package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.TrackedParquet
import org.apache.spark.sql.graftnative.TrackedParquet.Written
import org.apache.spark.sql.types.{DataType, LongType, NumericType, StructType}

/** A minimal versioned table format over plain parquet — the lakehouse
  * primitives (ACID commit, MERGE upsert, copy-on-write DELETE, time
  * travel, compaction) re-expressed with nothing but Spark jobs and an
  * atomically-renamed JSON manifest per version.
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>/part-*.parquet   -- immutable data files
  *   <root>/_manifests/v00000012.json    -- the record of version 12
  * }}}
  *
  * A version's record is ONE file: its ordered file list, the idempotent
  * txn id that committed it, and — when `create(..., statsCol, bloomCol)`
  * turned them on — each file's min/max and bloom entries with the two
  * column names. Entries commit inside the manifest, so whatever a reader
  * sees of a version it sees whole: files and pruning entries together.
  *
  * Commit protocol (optimistic concurrency): a writer computes its new
  * file list, serializes the manifest to a temp file, and publishes it
  * with an atomic-EXCLUSIVE hard link to `v{N+1}.json` (POSIX link(2)
  * fails with EEXIST if the slot is taken; a rename(2) would silently
  * REPLACE a concurrent winner's manifest — a lost update the
  * racing-appenders spec caught once in four otherwise-green runs).
  * The link is the commit point — readers either see the complete new
  * manifest or the previous one, never a torn state. If `v{N+1}.json`
  * already exists a concurrent writer won; the loser re-reads the head
  * and retries against the new base (bounded retries, then fails loudly).
  *
  * Scale posture (100 TB): the manifest holds file PATHS, not data — a
  * version flip is one metadata rename regardless of table size. MERGE
  * and DELETE are copy-on-write at file granularity: files with no
  * matching rows survive untouched into the next version (DELETE prunes
  * the rewrite set via `input_file_name()`), so write amplification is
  * proportional to the touched files, not the table. Optional per-file
  * min/max and bloom entries (`create(..., statsCol, bloomCol)`) drive
  * file skipping; the parquet write job fills both for the files it
  * writes, so a commit never re-reads them. Reads take the schema from
  * one data file's footer on the driver, so no operation spends a Spark
  * job on schema inference. Production
  * formats (Delta/Iceberg) add a log-compaction checkpoint; the
  * commit/CoW/time-travel shape is the same.
  */
final class VersionedTable private (val spark: SparkSession, val root: String) {
  import VersionedTable._

  private def manifestDir: Path = Paths.get(root, "_manifests")

  /** All committed versions, ascending. */
  def versions: Seq[Int] = {
    val s = Files.list(manifestDir)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case ManifestName(v) => v.toInt }
      .toSeq.sorted
    finally s.close() // directory streams hold an fd until closed
  }

  /** Latest committed version. */
  def currentVersion: Int = versions.last

  private def manifestPath(v: Int): Path = manifestDir.resolve(f"v$v%08d.json")

  private def readManifest(v: Int): Manifest =
    Manifest.parse(new String(Files.readAllBytes(manifestPath(v)), "UTF-8"))

  /** Every parquet read of manifest-listed files goes through here: it
    * pins the READER side of the vacuum contract. A DataFrame planned on
    * version v whose files a later `vacuum(retentionMs = 0)` reclaims
    * must fail LOUDLY at execution (Spark's default FileNotFoundException
    * → task failure), never return a torn subset of v — but that default
    * is a session conf, and `spark.sql.files.ignoreMissingFiles = true`
    * (legitimate for ingest-directory scans) would silently convert the
    * race into partial rows. Snapshot semantics are this table's whole
    * point, so a handle refuses to plan reads under that conf rather
    * than hope no vacuum ever races. Checked at PLAN time per read —
    * execution-time re-checks can't help (the conf is driver-side) and
    * the torn-read spec in VersionedTableSpec proves the execution-time
    * failure mode is loud with the conf at its required value. */
  private def snapshotRead(files: Seq[String]): DataFrame = {
    // case-insensitive: Spark parses boolean confs case-insensitively,
    // so "FALSE" must pass the guard and any spelling of true must not
    require(!spark.conf.get("spark.sql.files.ignoreMissingFiles", "false")
        .trim.equalsIgnoreCase("true"),
      "VersionedTable reads require spark.sql.files.ignoreMissingFiles=false: " +
        "with it on, a read racing a vacuum would silently return a torn " +
        "subset of the snapshot instead of failing")
    scan(files)
  }

  /** `spark.read.parquet(files)` without Spark's schema inference, a
    * one-task job that reads one footer: the driver reads that footer
    * (the smallest path, the file inference picks) itself. Spark keeps
    * its schema JSON there and data files never change, so the schema is
    * exact; a footer without it falls back to inference. */
  private def scan(files: Seq[String]): DataFrame = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(files.min), spark.sessionState.newHadoopConf()))
    val json = try r.getFooter.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY) finally r.close()
    if (json == null) spark.read.parquet(files: _*)
    else spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(files: _*)
  }

  /** Snapshot read. `asOf` = time travel to an older version. */
  def read(asOf: Option[Int] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion)
    require(versions.contains(v), s"version $v not in ${versions.mkString(",")}")
    val files = readManifest(v).paths
    if (files.isEmpty) spark.emptyDataFrame
    else snapshotRead(files)
  }

  // ------------------------------------------------------ file skipping

  /** The numeric column this table keeps per-file min/max for, if any.
    * `create(..., statsCol)` fixes it for the table's life, so a handle
    * reads it once, from the head manifest. */
  lazy val statsCol: Option[String] = readManifest(currentVersion).statsCol

  /** The long-typed key column this table keeps per-file blooms for, if
    * any; fixed at create like [[statsCol]]. */
  lazy val bloomCol: Option[String] = readManifest(currentVersion).bloomCol

  /** Bits per per-file bloom: 64 Kbit = 8 KB ≈ 1% fpp at ~6k keys/file.
    * The manifest stays metadata-scale (8 KB × files), and a probe is a
    * driver-side bit test — the point-lookup complement to the min/max
    * range stats ([[readWhere]] skips on RANGES; equality probes on a
    * hash-distributed key overlap every range, which is exactly where
    * blooms win). */
  private val BloomBits = 65536L

  /** File list for version `v` pruned to files whose bloom POSSIBLY
    * contains `key`. Files without an entry are kept — skipping must
    * never lose rows; false positives only cost a file read. */
  def pruneFilesEq(key: Long, asOf: Option[Int] = None): Seq[String] =
    readManifest(asOf.getOrElse(currentVersion)).files
      .filter(_.bloom.forall(org.apache.spark.sql.graftnative.BloomBridge.mightContainDriver(_, key)))
      .map(_.path)

  /** Point-lookup read with bloom file skipping: only possibly-matching
    * files are LISTED in the scan, then the exact predicate applies. At
    * 100 TB with a hash-distributed key this is the difference between
    * touching every file (min/max ranges all overlap) and touching the
    * 1-2 files that can actually hold the key. */
  def readWhereEq(key: Long, asOf: Option[Int] = None): DataFrame = {
    val c = bloomCol.getOrElse(
      throw new IllegalStateException("table has no bloom column; use read().filter"))
    val pruned = pruneFilesEq(key, asOf)
    if (pruned.isEmpty) read(asOf).filter(lit(false))
    else snapshotRead(pruned).filter(col(c) === key)
  }

  /** File list for version `v` pruned to files whose [min,max] range on
    * the stats column overlaps [lo,hi]. Files without a stats entry are
    * kept (skipping must never lose rows). */
  def pruneFiles(lo: Double, hi: Double, asOf: Option[Int] = None): Seq[String] =
    readManifest(asOf.getOrElse(currentVersion)).files
      .filter(_.minMax.forall { case (mn, mx) => !(mx < lo || mn > hi) })
      .map(_.path)

  /** Range read with file skipping: only overlapping files are even
    * LISTED in the scan — at 100 TB on a range-layout table (partitioned
    * or range-repartitioned writes) this is the difference between
    * scanning a day and scanning the archive. The exact predicate still
    * applies after pruning. */
  def readWhere(lo: Double, hi: Double, asOf: Option[Int] = None): DataFrame = {
    val c = statsCol.getOrElse(
      throw new IllegalStateException("table has no stats column; use read().filter"))
    val pruned = pruneFiles(lo, hi, asOf)
    if (pruned.isEmpty) read(asOf).filter(lit(false))
    else snapshotRead(pruned).filter(col(c).cast("double").between(lo, hi))
  }

  /** Write `df` as fresh immutable data files; returns their paths with
    * the pruning entries the write job itself collected. */
  private def writeDataFiles(df: DataFrame, sc: Option[String] = statsCol,
                             bc: Option[String] = bloomCol): Seq[Written] =
    TrackedParquet.write(df, Paths.get(root, "data", java.util.UUID.randomUUID().toString).toString,
      sc, bc, BloomBits / 10, BloomBits)

  /** SINGLE-attempt publish of `carried ++ fresh` at version `base + 1`;
    * throws [[VersionedTable.CommitConflict]] if a concurrent writer took
    * that version. The caller must REBASE — recompute carried/fresh
    * against the new head — before trying again: blindly republishing a
    * stale file list at the next slot would silently drop the winner's
    * files (lost update). The whole record is built before the link:
    * carried files keep the entries of the base manifest they were read
    * from, fresh files bring the entries their write job collected, so
    * entries commit inside the manifest and nothing runs after the
    * commit point. `cols` are the (stats, bloom) columns; only `create`
    * passes them, every later commit keeps the table's. */
  private def commitOnce(base: Int, carried: Seq[Written], fresh: Seq[Written],
                         txn: Option[String] = None,
                         cols: (Option[String], Option[String]) = (statsCol, bloomCol)): Int = {
    val attempt = base + 1
    val tmp = Files.createTempFile(manifestDir, ".tmp-", ".json")
    Files.write(tmp, Manifest(carried ++ fresh, cols._1, cols._2, txn).json.getBytes("UTF-8"))
    // createLink, NOT move: Files.move(ATOMIC_MOVE) maps to rename(2),
    // which silently REPLACES an existing target on POSIX — two racers
    // landing on the same version slot would both "succeed" and the
    // second would overwrite the first winner's manifest (observed: one
    // 10-row batch lost in ~1 of 4 racing-appenders suite runs). link(2)
    // is atomic AND exclusive: EEXIST surfaces as the conflict it is.
    try {
      Files.createLink(manifestPath(attempt), tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new VersionedTable.CommitConflict(attempt)
      case _: java.nio.file.NoSuchFileException =>
        // The tmp vanished between write and link — a writer stalled past
        // open()'s 10-minute sweep horizon, not a filesystem without
        // link(2). Transient: surface as a conflict so the rebase loop
        // retries with a fresh tmp instead of aborting with a wrong
        // "no hard-link support" diagnosis.
        Files.deleteIfExists(tmp)
        throw new VersionedTable.CommitConflict(attempt)
      case e @ (_: UnsupportedOperationException | _: java.nio.file.FileSystemException) =>
        // Anything except EEXIST means the filesystem refused link(2)
        // itself (some NFS/overlay mounts) — surface it as the
        // environment problem it is instead of letting the rebase loop
        // spin it into 50 misleading "conflicts".
        Files.deleteIfExists(tmp)
        throw new IllegalStateException(
          s"VersionedTable commit requires hard-link support in $manifestDir " +
            "(link(2) is the atomic-exclusive commit point); host the table " +
            "on a POSIX filesystem with hard links", e)
    }
    txn.foreach(recordTxn) // keep the incremental txn cache warm
    attempt
  }

  /** Optimistic-concurrency loop: run `body` (which must re-read the
    * head itself) until its commit sticks; each conflict means another
    * writer advanced the head, so the whole operation re-derives from the
    * new snapshot. Bounded retries, then fails loudly. */
  private def withRebase(maxRetries: Int = 50)(body: => Int): Int = {
    var i = 0
    while (true) {
      try return body
      catch {
        case c: VersionedTable.CommitConflict =>
          i += 1
          if (i > maxRetries) throw new IllegalStateException(
            s"lost $maxRetries consecutive commit races on $root (at ${c.version})")
      }
    }
    -1 // unreachable
  }

  /** Replace the table contents in one commit (INSERT OVERWRITE): the new
    * manifest lists only the fresh files, so the flip is atomic for
    * readers and prior snapshots stay time-travelable until a vacuum
    * reclaims them. The retrain path of stale persisted models
    * ([[CorpusStamp]]) re-versions through here, so the index history
    * records every retrain. */
  def overwrite(df: DataFrame): Int = {
    val fresh = writeDataFiles(df)
    withRebase() { commitOnce(currentVersion, Nil, fresh) }
  }

  /** Append-only commit: previous files stay, new files join the manifest.
    * Data files are written ONCE; a lost race only re-reads the new head
    * and re-publishes the (rebased) manifest. */
  def append(df: DataFrame): Int = {
    val fresh = writeDataFiles(df)
    withRebase() {
      val base = currentVersion
      commitOnce(base, readManifest(base).files, fresh)
    }
  }

  // ---------------------------------------------------- idempotent txns

  /** Txns surviving past vacuum: manifests older than the retention
    * horizon are deleted, so their txn ids checkpoint here first —
    * otherwise a replayed batch after a vacuum would double-append. */
  private def txnCheckpointPath: Path = manifestDir.resolve("_txns.json")

  private def checkpointTxns: Set[String] =
    if (!Files.exists(txnCheckpointPath)) Set.empty
    else jsonArray(new String(Files.readAllBytes(txnCheckpointPath), "UTF-8"), "txns").toSet

  private def writeTxnCheckpoint(txns: Set[String]): Unit = {
    val tmp = Files.createTempFile(manifestDir, ".tmp-", ".json")
    Files.write(tmp, ("{" + jsonField("txns", txns.toSeq.sorted.map(quote)) + "}").getBytes("UTF-8"))
    Files.move(tmp, txnCheckpointPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  // Incremental scan state: manifests are immutable, so versions at or
  // below txnScanned never need re-reading — a streaming sink committing
  // per micro-batch stays O(1) manifest reads per batch instead of O(N).
  private var txnScanned = -1
  private val txnCache = scala.collection.mutable.Set.empty[String]

  private def recordTxn(t: String): Unit = synchronized { txnCache += t }

  /** Transaction ids already recorded by [[appendIdempotent]] — from the
    * vacuum checkpoint plus the manifests (the txn rides INSIDE the
    * atomically-renamed manifest, so "batch data visible" and "batch id
    * recorded" cannot diverge). Scans only manifests newer than the last
    * scan. */
  def committedTxns: Set[String] = synchronized {
    if (txnScanned < 0) txnCache ++= checkpointTxns
    val fresh = versions.filter(_ > txnScanned)
    // a concurrent vacuum may delete a manifest between the versions
    // listing and the read — its txns were checkpointed FIRST (vacuum's
    // contract), so re-read the checkpoint instead of crashing the sink
    fresh.foreach(v =>
      try readManifest(v).txn.foreach(txnCache += _)
      catch { case _: java.nio.file.NoSuchFileException => txnCache ++= checkpointTxns })
    txnScanned = math.max(txnScanned, fresh.foldLeft(txnScanned)(math.max))
    txnCache.toSet
  }

  /** Idempotent append: a `txnId` that already committed is a no-op —
    * retried/restarted micro-batches (at-least-once delivery) yield
    * exactly-once TABLE CONTENTS. This is the sink half of Structured
    * Streaming's foreachBatch contract: key txnId by (queryId, batchId).
    * Returns the committed (or already-holding) version. */
  def appendIdempotent(df: DataFrame, txnId: String): Int = {
    // The txn id rides INSIDE hand-rolled JSON (manifest + _txns.json)
    // and is recovered by quote-splitting: a '"', '\' or control char
    // would silently TRUNCATE the stored id, so a replayed micro-batch
    // no longer matches committedTxns and double-appends — reject loudly
    // instead of corrupting the exactly-once bookkeeping.
    require(txnId.nonEmpty && !txnId.exists(c => c == '"' || c == '\\' || c < ' '),
      s"appendIdempotent: txnId must be non-empty and free of quotes, backslashes " +
        s"and control characters (it is embedded in manifest JSON verbatim); got: $txnId")
    if (committedTxns.contains(txnId)) return currentVersion
    val fresh = writeDataFiles(df)
    withRebase() {
      // ORDER MATTERS: read the head, THEN scan txns. A duplicate writer
      // committing after our txn scan necessarily commits at (or past)
      // our target version, so commitOnce conflicts and the rebase
      // re-scans; one committing before the scan is seen by it. Either
      // way the replay skips — no interleaving double-appends.
      val base = currentVersion
      if (committedTxns.contains(txnId)) currentVersion
      else commitOnce(base, readManifest(base).files, fresh, txn = Some(txnId))
    }
  }

  /** MERGE upsert (copy-on-write): rows of `updates` replace same-`key`
    * rows, the rest insert. The whole table rewrites into new files —
    * correct for merges touching most files; see [[delete]] for the
    * file-pruned pattern. One full-outer join, one write, one rename. */
  def merge(updates: DataFrame, key: String): Int = withRebase() {
    val base = currentVersion
    // merging into an EMPTY snapshot is a pure insert: the zero-column
    // emptyDataFrame read() returns can't anchor the full-outer join (no
    // key column), and a CDC sink's first micro-batch into a just-created
    // table is exactly this case
    val files = readManifest(base).files
    if (files.isEmpty)
      return commitOnce(base, Nil, writeDataFiles(updates))
    val cur = read(Some(base))
    val cols = cur.columns.toSeq
    // join(Seq(key)) outputs ONE coalesced key column. Row-presence is
    // tested via an always-true marker, NOT coalesce over data columns —
    // an update row must be able to set a column to NULL (coalesce would
    // silently keep the stale value).
    // marker name must not collide with a real column of either frame
    val marker = Iterator.from(0).map(i => s"_matched$i")
      .find(m => !cols.contains(m) && !updates.columns.contains(m)).get
    val u = updates.withColumn(marker, lit(true))
    val merged = cur.as("t").join(u.as("u"), Seq(key), "full_outer")
      .select(cols.map(c =>
        if (c == key) col(key)
        else when(col(marker).isNotNull, u(c)).otherwise(cur(c)).as(c)): _*)
    commitOnce(base, Nil, writeDataFiles(merged.coalesce(math.max(1, files.size))))
  }

  /** Copy-on-write DELETE with file pruning: only files that actually
    * contain matching rows are rewritten (without the matching rows);
    * untouched files carry over BY PATH into the new manifest — at 100 TB
    * a selective delete rewrites a handful of files, not the table. */
  def delete(condition: org.apache.spark.sql.Column): Int = withRebase() {
    val base = currentVersion
    val files = readManifest(base).files
    if (files.isEmpty) return base // empty snapshot: nothing to delete
    val cur = snapshotRead(files.map(_.path))
    // metadata-sized collect of the file paths containing hits: distinct
    // per partition (no shuffle), unioned on the driver, since a split
    // file shows up in several partitions
    val touched = cur.filter(condition).select(input_file_name())
      .as(Encoders.STRING).mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().map(normalizeUri).toSet
    if (touched.isEmpty) base // no-op: nothing to delete
    else {
      val kept = files.filterNot(f => touched.contains(normalize(f.path)))
      // SQL DELETE removes rows where the condition is TRUE; a NULL
      // predicate keeps the row (bare !condition would drop it)
      val rewritten = writeDataFiles(
        snapshotRead(touched.toSeq).filter(!coalesce(condition, lit(false))))
      commitOnce(base, kept, rewritten)
    }
  }

  /** Compaction: rewrite the current snapshot into `target` files (data
    * unchanged — asserted by the spec). Old versions remain readable:
    * compaction is just another commit whose manifest points at the new
    * files. */
  def compact(target: Int = 1): Int = withRebase() {
    val base = currentVersion
    commitOnce(base, Nil, writeDataFiles(read(Some(base)).coalesce(target)))
  }

  /** Cluster the current snapshot by range on `sortCol`: rewrite into
    * `numFiles` range-partitioned files so each holds a disjoint value
    * range — the layout that makes min/max file skipping actually prune
    * (a random layout's per-file ranges all overlap). The Z-order-lite
    * single-column form; data unchanged, just another commit. */
  def optimizeLayout(sortCol: String, numFiles: Int = 8): Int = withRebase() {
    val base = currentVersion
    commitOnce(base, Nil, writeDataFiles(
      read(Some(base)).repartitionByRange(numFiles, col(sortCol))))
  }

  /** Retention cleanup: drop all but the newest `keepVersions` manifests,
    * then delete every data file no remaining manifest references AND
    * older than `retentionMs` — CoW rewrites and abandoned writes leave
    * orphans that only a vacuum reclaims. The age threshold is the in-flight-writer guard: a
    * concurrent commit's freshly-written files are unreferenced until its
    * manifest rename lands, and deleting them would corrupt that commit
    * (the standard lakehouse vacuum-retention rule). Dropped manifests'
    * txn ids are checkpointed first, so [[appendIdempotent]] stays
    * exactly-once across vacuums. Time travel before the horizon is gone
    * afterwards, by design. Returns the number of data files deleted.
    *
    * Reader-race contract: a DataFrame already PLANNED on a version this
    * vacuum reclaims (planned before, executed after — the torn-read
    * window that is routine with concurrent readers at 100 TB) fails
    * LOUDLY at execution with a FileNotFoundException-caused task
    * failure; it can never silently return a subset of the snapshot,
    * because [[snapshotRead]] refuses to plan any read while
    * `spark.sql.files.ignoreMissingFiles` (the one conf that would
    * convert the failure into partial rows) is set. Both halves are
    * pinned by the reader-vs-vacuum spec in VersionedTableSpec. The
    * `retentionMs` default (10 min) exists precisely so that in-flight
    * plans and in-flight commits age past the window before their files
    * become reclaimable — retentionMs = 0 is for tests and for tables
    * with provably no concurrent readers. */
  def vacuum(keepVersions: Int = 1, retentionMs: Long = 10 * 60 * 1000L): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    committedTxns // warm the cache from manifests before any are dropped
    val all = versions
    val (dropped, kept) = all.splitAt(math.max(0, all.size - keepVersions))
    val droppedTxns = dropped.flatMap(readManifest(_).txn).toSet
    if (droppedTxns.nonEmpty)
      writeTxnCheckpoint(checkpointTxns ++ droppedTxns)
    val referenced = kept.flatMap(readManifest(_).paths).map(normalize).toSet
    dropped.foreach(v => Files.deleteIfExists(manifestPath(v)))
    val dataDir = Paths.get(root, "data")
    if (!Files.isDirectory(dataDir)) return 0
    val horizon = System.currentTimeMillis() - retentionMs
    val s = Files.walk(dataDir)
    val orphans =
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .filterNot(p => referenced.contains(normalize(p.toString)))
        .filter(p => Files.getLastModifiedTime(p).toMillis < horizon)
        .toSeq
      finally s.close()
    orphans.foreach(Files.deleteIfExists(_))
    orphans.size
  }

  /** Change feed at FILE granularity: the rows of every data file that
    * joined the manifest after `fromV` up to `toV` — what an incremental
    * consumer tails instead of re-reading snapshots. For append-only
    * traffic this is exactly the new rows; a CoW rewrite (merge/delete/
    * compact) surfaces its rewritten files wholesale, the standard
    * file-level CDC behavior of manifest formats without per-row change
    * tracking. */
  def addedBetween(fromV: Int, toV: Int): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val before = readManifest(fromV).paths.toSet
    val added = readManifest(toV).paths.filterNot(before)
    if (added.isEmpty) read(Some(toV)).filter(lit(false))
    else snapshotRead(added)
  }

  /** (version, fileCount) per committed version — the audit trail. */
  def history: Seq[(Int, Int)] = versions.map(v => v -> readManifest(v).files.size)
}

object VersionedTable {
  /** A concurrent writer claimed the attempted version first. */
  final class CommitConflict(val version: Int)
    extends RuntimeException(s"version $version already committed by another writer")

  private val ManifestName = "v(\\d{8})\\.json".r

  /** One version's record, all that its commit publishes: the ordered
    * data files with their pruning entries (a `Written` per file: min/max
    * of the stats column, bloom of the bloom column, each absent when the
    * table keeps none or the file has nothing to summarize), the two
    * column names and the optional idempotent-append txn id. */
  private final case class Manifest(files: Seq[Written], statsCol: Option[String],
                                    bloomCol: Option[String], txn: Option[String]) {
    def paths: Seq[String] = files.map(_.path)

    /** `{"files":[..],"statsCol":"c","mins":[..],"maxs":[..],"bloomCol":"k",
      * "blooms":[..],"txn":"id"}`: the entry arrays align with `files`,
      * `null` where a file has no entry, and a table without a stats or
      * bloom column writes neither its name nor its arrays. */
    def json: String = {
      val enc = java.util.Base64.getEncoder
      def entries[T](e: Written => Option[T])(show: T => String) =
        files.map(e(_).fold("null")(show))
      (Seq(jsonField("files", paths.map(quote))) ++
        statsCol.toSeq.flatMap(c => Seq(s""""statsCol":${quote(c)}""",
          jsonField("mins", entries(_.minMax)(_._1.toString)),
          jsonField("maxs", entries(_.minMax)(_._2.toString)))) ++
        bloomCol.toSeq.flatMap(c => Seq(s""""bloomCol":${quote(c)}""",
          jsonField("blooms", entries(_.bloom)(b => quote(enc.encodeToString(b)))))) ++
        txn.map(t => s""""txn":${quote(t)}""")).mkString("{", ",", "}")
    }
  }

  private object Manifest {
    def parse(s: String): Manifest = {
      val paths = jsonArray(s, "files")
      def entries[T](field: String)(read: String => T): Seq[Option[T]] =
        jsonArray(s, field).map(e => if (e == "null") None else Some(read(e)))
          .padTo(paths.size, None)
      val mins = entries("mins")(_.toDouble)
      val maxs = entries("maxs")(_.toDouble)
      val blooms = entries("blooms")(java.util.Base64.getDecoder.decode)
      def name(field: String): Option[String] = {
        val key = quote(field) + ":\""
        val at = s.indexOf(key)
        if (at < 0) None else Some(s.substring(at + key.length, s.indexOf('"', at + key.length)))
      }
      Manifest(paths.indices.map(i => Written(paths(i), mins(i).zip(maxs(i)), blooms(i))),
        name("statsCol"), name("bloomCol"), name("txn"))
    }
  }

  private def quote(x: String): String = "\"" + x + "\""

  private def jsonField(name: String, elems: Seq[String]): String =
    elems.mkString(quote(name) + ":[", ",", "]")

  /** The elements of the JSON array `field` of `s`, quotes stripped, or
    * Nil if `s` has none: the one reader of every array this format
    * writes. Hand-rolled without a JSON library, which holds because no
    * element contains a quote, comma or bracket: uuid-based paths,
    * numbers, base64 and txn ids (checked at [[appendIdempotent]]). */
  private def jsonArray(s: String, field: String): Seq[String] = {
    val key = quote(field) + ":["
    val at = s.indexOf(key)
    if (at < 0) Nil
    else {
      val body = s.substring(at + key.length, s.indexOf(']', at + key.length))
      if (body.isEmpty) Nil else body.split(",", -1).toSeq.map(_.stripPrefix("\"").stripSuffix("\""))
    }
  }

  /** Manifest-side spelling: raw local path, scheme stripped. */
  private def normalize(p: String): String =
    p.stripPrefix("file://").stripPrefix("file:")

  /** `input_file_name()`-side spelling: Spark returns a PERCENT-ENCODED
    * URI, while manifests hold raw paths — a root containing a space (or
    * any URI-encodable char) made delete's touched set miss every
    * manifest path, breaking delete outright. Decode exactly once, ONLY
    * on the URI side: a raw path that itself contains '%' arrives double-encoded
    * (%25…) and decodes back to the raw spelling, so the two sides meet
    * for every path. */
  private def normalizeUri(p: String): String = {
    val s = normalize(p)
    if (s.indexOf('%') >= 0)
      // '+' is literal in URI paths (URLDecoder would read it as a form-
      // encoded space) — shield it before decoding
      try java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")
      catch { case _: IllegalArgumentException => s }
    else s
  }

  /** Create a new table at `root` with `df` as version 0. `statsCol`
    * (numeric) turns on per-file min/max stats and [[VersionedTable
    * .readWhere]] file skipping, `bloomCol` (long) per-file blooms and
    * [[VersionedTable.readWhereEq]], for the table's whole life. Both are
    * checked here, before any file is written: the write job summarizes
    * only a numeric stats column and a long bloom column, and would
    * silently keep no entries for any other. */
  def create(spark: SparkSession, root: String, df: DataFrame,
             statsCol: Option[String] = None,
             bloomCol: Option[String] = None): VersionedTable = {
    statsCol.map(df.schema(_)).foreach(f => require(f.dataType.isInstanceOf[NumericType],
      s"stats column '${f.name}' must be numeric (got ${f.dataType})"))
    // the driver probe hashes Literal(key: Long), and XxHash64(int) !=
    // XxHash64(long): any other type would skip files holding the key
    bloomCol.map(df.schema(_)).foreach(f => require(f.dataType == LongType,
      s"bloom column '${f.name}' must be LongType (got ${f.dataType})"))
    val t = new VersionedTable(spark, root)
    Files.createDirectories(t.manifestDir)
    require(t.versions.isEmpty, s"table already exists at $root")
    val files = t.writeDataFiles(df, statsCol, bloomCol)
    t.commitOnce(-1, Nil, files, cols = (statsCol, bloomCol))
    t
  }

  /** Open an existing table. Sweeps orphaned commit temp files on the
    * way in: a writer that crashed between `createTempFile` and the
    * link/delete leaves a `.tmp-*` behind (harmless — the link, not the
    * tmp, is the commit point — but they accumulate). A LIVE racer's
    * tmp exists for milliseconds, so a 10-minute age gate can never eat
    * an in-flight commit. */
  def open(spark: SparkSession, root: String): VersionedTable = {
    val t = new VersionedTable(spark, root)
    require(Files.isDirectory(t.manifestDir), s"no table at $root")
    val horizon = System.currentTimeMillis() - 10 * 60 * 1000
    val s = Files.list(t.manifestDir)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(".tmp-"))
      .filter(p => Files.getLastModifiedTime(p).toMillis < horizon)
      .foreach(Files.deleteIfExists(_))
    catch { case scala.util.control.NonFatal(_) => } // sweep is best-effort
    finally s.close()
    t
  }
}

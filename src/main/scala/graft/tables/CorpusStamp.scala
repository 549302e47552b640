package graft.tables

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one staleness rule for everything derived from a corpus: a
  * metadata fingerprint of the corpus tables a value was derived from,
  * recomputed at every use and compared with the one it was built
  * under. Three users, each at the granularity its cost calls for:
  *   - `Tables.load`'s plan memo keys on ONE table's [[fingerprint]]: a
  *     plan keeps the file sizes it listed, so only a rewrite of that
  *     table makes it wrong, and re-resolving it is cheap.
  *   - [[graft.tools.Derived]] keys on the CORPUS stamp,
  *     `fingerprint(sfDir)`: its entries are session-scoped and rebuild
  *     without a commit, and a derived frame may read any table of its
  *     corpus, so a table rewritten in place misses every entry of that
  *     corpus and no call site has to name its inputs.
  *   - [[persist]] seals a durable artifact root with ONE table's
  *     fingerprint: a stale root retrains and re-versions a table every
  *     later process reads, so rewriting `orders` must not retrain a
  *     tokenizer derived from `documents`.
  *
  * The fingerprint is METADATA-scale — one directory walk collecting
  * (relative path, size, mtime) per data file, no data read; the same
  * staleness signal a lakehouse source derives from its snapshot id.
  * An in-place rewrite that preserves every file's name, size AND mtime
  * is indistinguishable, which is the standard (and practically safe)
  * limitation of mtime-based invalidation. At 100 TB the walk is a
  * LISTing, the cost every query's file index pays anyway.
  */
object CorpusStamp {
  /** Fingerprint of `<sfDir>/<table>.parquet` (file or directory). */
  def fingerprint(sfDir: String, table: String): String = {
    val p = Paths.get(sfDir, table + ".parquet")
    require(Files.exists(p), s"no corpus table at $p")
    val walk = Files.walk(p)
    val entries =
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => s"${p.relativize(f)}|${Files.size(f)}|${Files.getLastModifiedTime(f).toMillis}")
        .toSeq.sorted
      finally walk.close()
    md5(entries)
  }

  /** Fingerprint of the corpus at `sfDir`: the per-table fingerprints of
    * the [[graft.Tables.all]] tables present there. Only those
    * `<table>.parquet` entries count, so other files under `sfDir` (a
    * persisted root placed inside the corpus directory) never change it. */
  def fingerprint(sfDir: String): String =
    md5(graft.Tables.all.filter(t => Files.exists(Paths.get(sfDir, t + ".parquet")))
      .map(t => s"$t|${fingerprint(sfDir, t)}"))

  private def md5(entries: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  // lives beside _manifests inside the artifact root; vacuum only walks
  // <root>/data so the seal can never be reclaimed as an orphan
  private def stampPath(tableRoot: String): Path =
    Paths.get(tableRoot, "_corpus.fp")

  /** Does the artifact at `tableRoot` carry this fingerprint? An absent
    * stamp reads as stale (pre-stamp artifacts retrain once, then seal). */
  private def isFresh(tableRoot: String, fp: String): Boolean =
    Files.exists(stampPath(tableRoot)) &&
      new String(Files.readAllBytes(stampPath(tableRoot)), "UTF-8") == fp

  /** Seal `tableRoot` as derived from the corpus state `fp`. Written
    * AFTER the retrained commit lands: a crash in between leaves an
    * unsealed (stale-reading) artifact that the next serve re-derives —
    * an extra version, never a stale serve. */
  private def write(tableRoot: String, fp: String): Unit = {
    // sweep aged .fp-*.tmp orphans first (a crash between createTempFile
    // and the atomic move leaves one; vacuum never walks the root) —
    // same 10-minute age gate as VersionedTable.open's commit-tmp sweep,
    // so a LIVE racer's milliseconds-old tmp is never eaten. Best-effort.
    val horizon = System.currentTimeMillis() - 10 * 60 * 1000
    val ls = Files.list(Paths.get(tableRoot))
    try ls.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(".fp-"))
      .filter(p => Files.getLastModifiedTime(p).toMillis < horizon)
      .foreach(Files.deleteIfExists(_))
    catch { case scala.util.control.NonFatal(_) => }
    finally ls.close()
    val tmp = Files.createTempFile(Paths.get(tableRoot), ".fp-", ".tmp")
    Files.write(tmp, fp.getBytes("UTF-8"))
    Files.move(tmp, stampPath(tableRoot),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** One lock per artifact root: [[persist]]'s check and build hold it. */
  private val rootLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The build-if-absent-or-stale path of a persisted artifact, a
    * `graft-vt` table at `tableRoot` derived from corpus table `table` of
    * `sfDir`: with no committed v0 manifest, `create` it from `frame`
    * (with `statsCol`'s per-file min/max entries, if given); with a stamp
    * other than the table's current [[fingerprint]], RE-VERSION it
    * (`overwrite` with `frame`, which keeps the table's stats column, so
    * the history records the retrain); then seal that fingerprint. Each
    * build is ONE commit, so no version ever holds half an artifact. An
    * artifact that is present and fresh evaluates nothing. Returns
    * `tableRoot`. Every persisted artifact (tokenizers, the substring
    * index, the ANN index, the geo layout) goes through here.
    *
    * "Absent" is the committed v0 manifest, not the directory: `create`
    * makes `_manifests` before its v0 commit lands, so a crashed first
    * build must not wedge the root. Check and build run under one lock
    * per root, so concurrent first serves in one JVM build once and
    * both return the one version; unserialized, both miss the v0 check
    * and the loser's `create` throws. Two PROCESSES sharing a durable
    * root still race the v0 commit: the loser throws and a retry serves
    * the winner's version, never a half-built one. */
  def persist(s: SparkSession, tableRoot: String, sfDir: String, table: String,
              statsCol: Option[String] = None)(frame: => DataFrame): String = {
    val fp = fingerprint(sfDir, table)
    rootLocks.computeIfAbsent(tableRoot, _ => new AnyRef).synchronized {
      if (!Files.exists(Paths.get(tableRoot, "_manifests", "v00000000.json"))) {
        VersionedTable.create(s, tableRoot, frame, statsCol)
        write(tableRoot, fp)
      } else if (!isFresh(tableRoot, fp)) {
        VersionedTable.open(s, tableRoot).overwrite(frame)
        write(tableRoot, fp)
      }
      tableRoot
    }
  }
}

package graft.tables

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staleness seal for persisted derived artifacts (trained tokenizers,
  * ANN codebooks, geo layouts): a metadata fingerprint of the corpus
  * table the artifact was derived from, stamped next to the artifact's
  * manifests at build time and re-checked at every serve.
  *
  * Why: the persisted-model roots are keyed per corpus DIRECTORY
  * (build-if-absent on the committed v0 manifest, [[persist]]), so a corpus mutated
  * IN PLACE at the same path would serve a stale vocabulary / codebook
  * silently — the one failure the whole "committed pipeline artifact"
  * posture must not have. With the stamp, a serve whose recomputed
  * fingerprint mismatches retrains and RE-VERSIONS the artifact table
  * (a new commit, so the index history records the retrain), exactly
  * once per corpus state (the retrained model lands under the new
  * fingerprint and subsequent serves are stamp-fresh).
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
  def isFresh(tableRoot: String, fp: String): Boolean =
    Files.exists(stampPath(tableRoot)) &&
      new String(Files.readAllBytes(stampPath(tableRoot)), "UTF-8") == fp

  /** Seal `tableRoot` as derived from the corpus state `fp`. Written
    * AFTER the retrained commit lands: a crash in between leaves an
    * unsealed (stale-reading) artifact that the next serve re-derives —
    * an extra version, never a stale serve. */
  def write(tableRoot: String, fp: String): Unit = {
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
    * `graft-vt` table at `tableRoot` derived from the corpus state `fp`:
    * with no committed v0 manifest, `create` it from `frame`; with a
    * stamp other than `fp`, RE-VERSION it (`overwrite` with `frame`, so
    * the history records the retrain); then seal `fp`. An artifact that
    * is present and fresh evaluates nothing. Returns `tableRoot`.
    *
    * "Absent" is the committed v0 manifest, not the directory: `create`
    * makes `_manifests` before its v0 commit lands, so a crashed first
    * build must not wedge the root. Check and build run under one lock
    * per root, so concurrent first serves in one JVM build once and
    * both return the one version; unserialized, both miss the v0 check
    * and the loser's `create` throws. Cross-process coordination is the
    * durable deployment's problem, which PortableQuantizer.indexRootAt's
    * idempotent-txn pattern shows how to solve. */
  def persist(s: SparkSession, tableRoot: String, fp: String)(frame: => DataFrame): String =
    rootLocks.computeIfAbsent(tableRoot, _ => new AnyRef).synchronized {
      if (!Files.exists(Paths.get(tableRoot, "_manifests", "v00000000.json"))) {
        VersionedTable.create(s, tableRoot, frame)
        write(tableRoot, fp)
      } else if (!isFresh(tableRoot, fp)) {
        VersionedTable.open(s, tableRoot).overwrite(frame)
        write(tableRoot, fp)
      }
      tableRoot
    }
}

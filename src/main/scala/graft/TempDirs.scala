package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

/** One temp directory per (tag, key) per JVM for the write-roundtrip
  * operators (csv/json/orc/xml/text/binaryFile sources and the partitioned
  * layout). Repeated invocations — bench reps, verify + bench in one
  * session — reuse the written layout instead of leaking a fresh corpus
  * copy per call, and every directory is removed on JVM exit.
  */
object TempDirs {
  private val dirs = new ConcurrentHashMap[String, String]()

  sys.addShutdownHook {
    dirs.values.forEach(d => rmTree(Paths.get(d)))
  }

  /** Best-effort recursive delete. The WALK is guarded, not just the
    * per-file deletes: a concurrently-vanishing or unreadable entry makes
    * Files.walk throw UncheckedIOException, which would (a) abort the
    * shutdown hook's loop and leak every remaining directory and (b) in
    * cached()'s failure path mask the original write error with a
    * cleanup error. */
  private def rmTree(p: Path): Unit =
    try if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { try Files.delete(f) catch { case _: Throwable => } })
      finally s.close()
    } catch { case scala.util.control.NonFatal(_) => }

  /** Return the cached directory for (tag, key), running `write` exactly
    * once per JVM to populate it. `write` must fully materialize the
    * layout before returning (computeIfAbsent publishes the mapping only
    * after it completes, so concurrent callers never see a half-written
    * directory; `write` closures must not call cached() themselves —
    * computeIfAbsent forbids recursive updates). A failed `write` removes
    * its half-written directory instead of leaking it. */
  def cached(tag: String, key: String)(write: String => Unit): String =
    dirs.computeIfAbsent(s"$tag|$key", { _ =>
      val dir = Files.createTempDirectory(s"graft_$tag")
      try { write(dir.toString); dir.toString }
      catch { case e: Throwable => rmTree(dir); throw e }
    })
}

package graft.tables

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft-vt")` — the VersionedTable exposed as a
  * Spark data source, so consumers get snapshots, time travel, and
  * stats-based file skipping through the standard reader API instead of
  * the VersionedTable class:
  *
  * {{{
  * spark.read.format("graft-vt")
  *   .option("path", root)
  *   .option("asOf", "3")          // optional time travel
  *   .load()
  *   .where($"o_totalprice" >= 1000 && $"o_totalprice" <= 2000)
  * }}}
  *
  * Source-interface choice, deliberately V1 (`RelationProvider` +
  * `PrunedFilteredScan`, the same compatibility surface Delta Lake rides
  * through `DataSource.resolveRelation`): the table's value-add is
  * MANIFEST-level — pick the snapshot's file list, then drop files whose
  * [min,max] stats can't overlap the query's range. After that decision
  * the scan IS a parquet scan, and delegating `buildScan` to
  * `spark.read.parquet(prunedFiles)` keeps Spark's vectorized reader,
  * whole-stage codegen, and parquet predicate pushdown. A DSv2
  * `PartitionReader` would have to reimplement parquet decoding row by
  * row — strictly slower at any scale.
  *
  * Every filter is declared unhandled, so Catalyst re-applies the exact
  * predicates (and pushes them into the parquet scan); the Filter array
  * is used here only to derive a conservative [lo, hi] interval on the
  * table's stats column for file skipping. Correctness never depends on
  * the skipping — a file without stats, a non-numeric comparison, or a
  * disjunction simply skips nothing.
  */
class VtDataSource extends RelationProvider with CreatableRelationProvider
  with DataSourceRegister {
  override def shortName(): String = "graft-vt"

  private def pathOf(params: Map[String, String]): String =
    params.getOrElse("path",
      throw new IllegalArgumentException("graft-vt: 'path' option is required"))

  override def createRelation(
      ctx: SQLContext, params: Map[String, String]): BaseRelation =
    new VtRelation(ctx, pathOf(params), params.get("asOf").map(_.trim.toInt))

  /** Write path: `df.write.format("graft-vt").option("path", root).save()`.
    * Append adds an ACID-committed version; Overwrite is refused (the
    * table's contract is additive versions + MERGE/DELETE through the
    * VersionedTable API — silently dropping history via a writer mode
    * would defeat time travel); ErrorIfExists creates a new table
    * (optional `statsCol` turns on file skipping from version 0);
    * Ignore is a no-op on an existing table. */
  override def createRelation(
      ctx: SQLContext, mode: org.apache.spark.sql.SaveMode,
      params: Map[String, String],
      data: org.apache.spark.sql.Dataset[Row]): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val root = pathOf(params)
    val exists = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root, "_manifests"))
    val df = data.toDF()
    mode match {
      case Append =>
        if (exists) VersionedTable.open(ctx.sparkSession, root).append(df)
        else VersionedTable.create(ctx.sparkSession, root, df, params.get("statsCol"))
      case ErrorIfExists =>
        if (exists) throw new IllegalStateException(s"graft-vt: table already exists at $root")
        VersionedTable.create(ctx.sparkSession, root, df, params.get("statsCol"))
      case Ignore =>
        if (!exists) VersionedTable.create(ctx.sparkSession, root, df, params.get("statsCol"))
      case Overwrite =>
        throw new UnsupportedOperationException(
          "graft-vt: Overwrite would drop table history; use the VersionedTable API (merge/delete/vacuum)")
    }
    new VtRelation(ctx, root, None)
  }
}

object VtDataSource {
  /** Observability hook, keyed PER TABLE ROOT: number of data files the
    * most recent `buildScan` of that table listed (after skipping). Read
    * by specs to prove pruning; production monitoring would export the
    * same counters. Per-root (not one process-global cell) so concurrent
    * scans of different graft-vt tables can't overwrite each other's
    * reading between a query and the assertion that checks it. */
  private val scanFileCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def lastScanFileCount(root: String): Int =
    Option(scanFileCounts.get(root)).fold(-1)(_.intValue)

  private[tables] def recordScan(root: String, n: Int): Unit =
    scanFileCounts.put(root, n)
}

class VtRelation(ctx: SQLContext, root: String, asOf: Option[Int])
  extends BaseRelation with PrunedFilteredScan {

  // ONE handle per relation, not one open() per call: open re-runs the
  // stale-tmp sweep, and a fresh handle re-reads statsCol from the head
  // manifest, which a scan-per-batch consumer paid on every buildScan.
  private lazy val table: VersionedTable = VersionedTable.open(ctx.sparkSession, root)

  // The snapshot is PINNED at relation creation: buildScan used to
  // re-resolve currentVersion at scan time, so one DataFrame whose plan
  // scans the relation twice (self-join) could read two different
  // versions if a writer committed in between — and the creation-time
  // schema was silently forced onto newer files. A reader wanting the
  // new version calls load() again.
  private val pinned: Int = asOf.getOrElse(table.currentVersion)

  override def sqlContext: SQLContext = ctx

  override val schema: StructType = table.read(Some(pinned)).schema

  // We only SKIP FILES; Spark must still evaluate every predicate exactly.
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  /** Conservative [lo, hi] bounds on `c` implied by the conjunctive filter
    * array. Anything not a simple numeric comparison on `c` contributes
    * nothing (never widens incorrectness — only narrows skipping). */
  private def boundsFor(c: String, filters: Array[Filter]): (Double, Double) = {
    var lo = Double.NegativeInfinity
    var hi = Double.PositiveInfinity
    def num(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    filters.foreach {
      case EqualTo(`c`, v) => num(v).foreach { d => lo = math.max(lo, d); hi = math.min(hi, d) }
      case GreaterThan(`c`, v) => num(v).foreach(d => lo = math.max(lo, d))
      case GreaterThanOrEqual(`c`, v) => num(v).foreach(d => lo = math.max(lo, d))
      case LessThan(`c`, v) => num(v).foreach(d => hi = math.min(hi, d))
      case LessThanOrEqual(`c`, v) => num(v).foreach(d => hi = math.min(hi, d))
      case In(`c`, vs) =>
        // [min, max] of the value list is a valid interval for the IN —
        // without it an isin() query scanned every file in the snapshot
        val ds = vs.toSeq.flatMap(num)
        if (ds.nonEmpty && ds.size == vs.length) {
          lo = math.max(lo, ds.min); hi = math.min(hi, ds.max)
        }
      case _ => // Or/IsNull/other columns: no bound contribution
    }
    (lo, hi)
  }

  /** Best-effort translation of a pushed V1 Filter back to a Column for
    * the INNER parquet read, so row-level predicates reach the parquet
    * reader's PushedFilters (row-group / page skipping) instead of only
    * being evaluated above the RDD boundary. Unsupported shapes return
    * None — always safe, because every filter is also re-applied exactly
    * by Spark (unhandledFilters above). */
  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(c) => toColumn(c).map(!_)
      case _ => None
    }
  }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val t = table
    val files = t.statsCol match {
      case Some(c) =>
        val (lo, hi) = boundsFor(c, filters)
        t.pruneFiles(lo, hi, Some(pinned))
      case None => t.pruneFiles(Double.NegativeInfinity, Double.PositiveInfinity, Some(pinned))
    }
    VtDataSource.recordScan(root, files.size)
    val spark = ctx.sparkSession
    val base =
      if (files.isEmpty) spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      else spark.read.schema(schema).parquet(files: _*)
    // re-apply the translatable predicates INSIDE the scan: conjunctive
    // semantics make a partial re-application safe, and the inner
    // DataFrame pushes them into the parquet reader (PushedFilters →
    // row-group skipping); Spark still re-checks every filter above.
    val filtered = filters.flatMap(toColumn).foldLeft(base)(_ filter _)
    // column pruning: hand Spark exactly the projection it asked for (an
    // empty projection happens under count(*) — keep one dummy column so
    // the row count survives)
    val projected =
      if (requiredColumns.isEmpty) filtered.select(org.apache.spark.sql.functions.lit(1).as("one"))
      else filtered.select(requiredColumns.head, requiredColumns.tail.toIndexedSeq: _*)
    projected.rdd
  }
}

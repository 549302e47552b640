package graft.tables

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftnative.BloomBridge
import org.apache.spark.sql.graftnative.TrackedParquet.Written
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** One manifest version's files as Spark's `FileIndex`. Every
  * VersionedTable read and `graft-vt` load is a `HadoopFsRelation` over
  * one, so Spark plans its parquet scan without listing or statting a
  * path: the manifest holds each file's size and the schema.
  *
  * The one pruning rule: `listFiles` drops a file whose entries rule out
  * a data filter: min/max against `=`, `<`, `<=`, `>`, `>=` or `IN` with
  * numeric literals on the stats column or its cast to double (how
  * `readWhere` filters); the bloom against `=` or `IN` of long literals
  * on the bloom column. Any other shape keeps every file; Spark applies
  * every filter exactly, so skipping never changes a result. */
private[tables] final class ManifestIndex(spark: SparkSession, private val files: Seq[Written],
                                          statsCol: Option[String], bloomCol: Option[String],
                                          schema: StructType) extends FileIndex {
  import ManifestIndex._

  /** Spark's parquet scan of these files. */
  def relation: HadoopFsRelation = {
    requireSnapshotRead(spark)
    HadoopFsRelation(this, partitionSchema, schema, None, new ParquetFileFormat, Map.empty)(spark)
  }

  /** Each file's bloom, decoded and deserialized once per index, when a
    * filter first probes one; aligned with `files`. */
  private lazy val blooms: IndexedSeq[Option[BloomFilter]] =
    files.map(_.bloom.map(b => BloomBridge.readDriver(java.util.Base64.getDecoder.decode(b))))
      .toIndexedSeq

  /** The files whose entries rule out none of `filters`. */
  def prune(filters: Seq[Expression]): Seq[Written] =
    files.zipWithIndex.collect {
      case (w, i) if !filters.exists(f => outside(w, f) || absent(i, f)) => w
    }

  /** Whether `e` reads the stats column, itself or cast to double. */
  private def stat(e: Expression): Boolean = e match {
    case a: Attribute => statsCol.contains(a.name)
    case Cast(a: Attribute, DoubleType, _, _) => statsCol.contains(a.name)
    case _ => false
  }

  /** Whether `w`'s [min, max] holds no value that satisfies `f`. The
    * entries hold the column's double, which a long or decimal may round,
    * so a bound drops the file only when it lies strictly beyond them. */
  private def outside(w: Written, f: Expression): Boolean = w.minMax.exists { case (mn, mx) =>
    def beyond(op: String)(v: Double): Boolean = op match {
      case "<" | "<=" => mn > v
      case ">" | ">=" => mx < v
      case _ => false
    }
    f match {
      case OneOf(c, vs) => stat(c) && numbers(vs).exists(_.forall(v => v < mn || v > mx))
      case b: BinaryComparison => (b.left, b.right) match {
        case (c, Literal(v, _)) if stat(c) => number(v).exists(beyond(b.symbol))
        case (Literal(v, _), c) if stat(c) => number(v).exists(beyond(Flipped(b.symbol)))
        case _ => false
      }
      case _ => false
    }
  }

  /** Whether the bloom of file `i` holds none of the keys `f` matches. */
  private def absent(i: Int, f: Expression): Boolean = f match {
    case OneOf(c: Attribute, ks) if bloomCol.contains(c.name) && c.dataType == LongType &&
        ks.forall(_.isInstanceOf[java.lang.Long]) =>
      blooms(i).exists(bf =>
        !ks.exists(k => BloomBridge.mightContainDriver(bf, k.asInstanceOf[java.lang.Long])))
    case _ => false
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    requireSnapshotRead(spark)
    Seq(PartitionDirectory(InternalRow.empty, prune(dataFilters).map(w =>
      new FileStatus(w.size, false, 1, 128L << 20, 0L, qualified(w.path))).toArray))
  }

  /** Equal to an index over the same files, as Spark's own file index
    * is, so two reads of one version share a cached plan or an exchange. */
  override def equals(o: Any): Boolean =
    o match { case i: ManifestIndex => i.files == files; case _ => false }
  override def hashCode: Int = files.map(_.path).hashCode

  override def rootPaths: Seq[Path] = files.map(w => qualified(w.path))
  override def inputFiles: Array[String] = files.map(w => uri(w.path)).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.size).sum
  override def partitionSchema: StructType = new StructType()
}

private[tables] object ManifestIndex {

  /** A comparison read from its right-hand side; "" for `=` and `<=>`. */
  private val Flipped = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
    .withDefaultValue("")

  /** `f` as a column that must equal one of some non-NULL values: an `=`
    * or an `IN` of literals (NULL never matches, so it rules nothing in). */
  private object OneOf {
    def unapply(f: Expression): Option[(Expression, Seq[Any])] = (f match {
      case EqualTo(c, Literal(v, _)) => Some((c, Seq(v)))
      case EqualTo(Literal(v, _), c) => Some((c, Seq(v)))
      case In(c, vs) if vs.forall(_.isInstanceOf[Literal]) => Some((c, vs.map(_.eval())))
      case InSet(c, vs) => Some((c, vs.toSeq))
      case _ => None
    }).map { case (c, vs) => (c, vs.filter(_ != null)) }
  }

  private def number(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue)
    case d: Decimal => Some(d.toDouble)
    case _ => None
  }

  private def numbers(vs: Seq[Any]): Option[Seq[Double]] =
    Option.when(vs.forall(number(_).isDefined))(vs.flatMap(number))

  /** A manifest path (a raw local path) as the qualified `file:` path
    * Spark's own listing gives, without touching the filesystem. */
  private def qualified(p: String): Path =
    new Path(p).makeQualified(java.net.URI.create("file:///"), new Path(sys.props("user.dir")))

  /** How a scan spells the file at manifest path `p`: its percent-encoded
    * URI, what `input_file_name()` returns for it. */
  def uri(p: String): String = qualified(p).toUri.toString

  /** The reader side of the vacuum contract: a frame on a version whose
    * files a `vacuum` reclaims must fail LOUDLY (FileNotFoundException),
    * never return a torn subset, as `ignoreMissingFiles = true` would. So
    * a read refuses that conf when its frame is built and again when its
    * scan is planned, which may come after the conf changed. */
  private def requireSnapshotRead(spark: SparkSession): Unit =
    // case-insensitive: Spark parses boolean confs case-insensitively,
    // so "FALSE" must pass the guard and any spelling of true must not
    require(!spark.conf.get("spark.sql.files.ignoreMissingFiles", "false")
        .trim.equalsIgnoreCase("true"),
      "VersionedTable reads require spark.sql.files.ignoreMissingFiles=false: " +
        "with it on, a read racing a vacuum would silently return a torn " +
        "subset of the snapshot instead of failing")
}

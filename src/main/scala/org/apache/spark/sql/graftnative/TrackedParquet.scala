package org.apache.spark.sql.graftnative

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormatWriter,
  WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, NumericType}
import org.apache.spark.util.sketch.BloomFilter

/** Parquet write through Spark's `FileFormatWriter` (the session's commit
  * protocol) whose stats tracker summarizes each file as it is written:
  * the min/max of the stats column cast to double (Spark's `Cast`, NaN and
  * ties ordered as the `min`/`max` aggregates order them) and a bloom from
  * the real [[BloomFilterAggregate]] over `XxHash64(key)`, the bytes of the
  * [[BloomBridge]] aggregate. Entries reach the driver in the task commit
  * messages, so only committed attempts report; they are keyed by file
  * name, since a tracker sees temporary paths and a task may roll into
  * several files. In org.apache.spark.sql for the writer API. */
object TrackedParquet {

  /** One written file, `dir/<file name>`, and its pruning entries: no
    * min/max without a non-NULL stats value, no bloom without a row. */
  final case class Written(path: String, minMax: Option[(Double, Double)],
                           bloom: Option[Array[Byte]])

  /** Write `df` as parquet files into the new directory `dir`; returns the
    * files sorted by path. A stats column that is not numeric, or a bloom
    * column that is not a long, is not summarized. */
  def write(df: DataFrame, dir: String, statsCol: Option[String], bloomCol: Option[String],
            bloomItems: Long, bloomBits: Long): Seq[Written] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    DataSource.validateSchema("Parquet", df.schema, spark.sessionState.conf)
    def field(c: Option[String], ok: DataType => Boolean) =
      c.flatMap(df.schema.getFieldIndex).filter(i => ok(df.schema(i).dataType))
    val tracker = new JobTracker(field(statsCol, _.isInstanceOf[NumericType])
      .map(i => i -> df.schema(i).dataType), field(bloomCol, _ == LongType), bloomItems, bloomBits)
    val committer = FileCommitProtocol.instantiate(spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString, outputPath = dir)
    SQLExecution.withNewExecutionId(qe, Some(s"parquet write $dir")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, plan.output),
        spark.sessionState.newHadoopConf(), Nil, None, Seq(tracker), Map.empty)
    }
    tracker.written.map(w => w.copy(path = dir.stripSuffix("/") + "/" + w.path)).sortBy(_.path)
  }

  private final case class TaskFiles(files: Seq[Written]) extends WriteTaskStats

  private final class JobTracker(stats: Option[(Int, DataType)], bloom: Option[Int],
                                 items: Long, bits: Long) extends WriteJobStatsTracker {
    var written: Seq[Written] = Nil
    override def newTaskInstance(): WriteTaskStatsTracker = new TaskTracker(
      stats.map { case (i, t) => Cast(BoundReference(i, t, nullable = true), DoubleType) },
      bloom.map(i => new BloomFilterAggregate(
        new XxHash64(Seq(BoundReference(i, LongType, nullable = true))), Literal(items), Literal(bits))))
    override def processStats(ts: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      written = ts.flatMap(_.asInstanceOf[TaskFiles].files)
  }

  private final class FileAcc(val bf: Option[BloomFilter]) {
    var lo, hi = 0.0
    var seen = false
  }

  private final class TaskTracker(cast: Option[Cast], agg: Option[BloomFilterAggregate])
      extends WriteTaskStatsTracker {
    private val files = scala.collection.mutable.LinkedHashMap.empty[String, FileAcc]
    private var curPath: String = _
    private var cur: FileAcc = _

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def closeFile(filePath: String): Unit = ()
    override def newFile(filePath: String): Unit =
      files(filePath) = new FileAcc(agg.map(_.createAggregationBuffer()))

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (!(filePath eq curPath)) { cur = files(filePath); curPath = filePath }
      for (c <- cast; v <- Option(c.eval(row)).map(_.asInstanceOf[Double])) {
        if (!cur.seen || compareDoubles(v, cur.lo) < 0) cur.lo = v
        if (!cur.seen || compareDoubles(v, cur.hi) > 0) cur.hi = v
        cur.seen = true
      }
      for (a <- agg; b <- cur.bf) a.update(b, row)
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(files.toSeq.map { case (p, f) =>
        Written(new Path(p).getName, Option.when(f.seen)((f.lo, f.hi)),
          for (a <- agg; b <- f.bf; bytes <- Option(a.eval(b))) yield bytes.asInstanceOf[Array[Byte]])
      })
  }
}

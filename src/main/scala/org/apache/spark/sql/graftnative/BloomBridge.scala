package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

/** Column bridge to Spark's OWN runtime-filter expressions
  * (BloomFilterAggregate / BloomFilterMightContain — the pair Catalyst's
  * InjectRuntimeFilter rule plants for 10 GB+ scans). Exposing them as
  * Columns lets an operator build the filter-side bloom explicitly and
  * plant the probe as an ordinary codegen'd predicate on the fact scan,
  * with the bloom bytes carried as a foldable Literal (the same
  * metadata-scale payload a broadcast exchange would ship).
  *
  * Both expressions hash through XxHash64 exactly like the injected rule,
  * so the false-positive math and the serialized sketch format are
  * Spark's, not ours.
  */
object BloomBridge {

  /** Aggregate a key column into a serialized bloom filter (binary). */
  def bloomFilterAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ExpressionUtils.expression(key))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Probe predicate: might the serialized bloom contain this key?
    * False positives possible (resolved by the exact join downstream),
    * false negatives impossible — the filter is safe to apply. */
  def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      new XxHash64(Seq(ExpressionUtils.expression(key)))))

  /** A serialized sketch read back on the DRIVER, for [[mightContainDriver]]. */
  def readDriver(bloomBytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloomBytes))

  /** DRIVER-side probe of the same sketch — what file-level skipping
    * needs (the manifest is driver state; no job may run just to decide
    * which files to list). Mirrors the SQL expression pair exactly: the
    * aggregate puts XxHash64(key) longs into the filter, so the probe
    * hashes the key through the same expression before mightContainLong
    * — a mismatch here would silently break skipping (false negatives),
    * which is why both paths share this one bridge. */
  def mightContainDriver(bf: BloomFilter, key: Long): Boolean =
    bf.mightContainLong(new XxHash64(Seq(Literal(key))).eval(null).asInstanceOf[Long])
}

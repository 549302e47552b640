package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central fixture loader. Every operator goes through [[load]]/[[view]] so
  * per-table normalization lives in exactly one place — notably the
  * `events.ts` timestamp normalization: fixture generations have shipped the
  * column as INT64 TIMESTAMP(NANOS) (pre-2026-08-13) and as TIMESTAMP(MICROS)
  * (current). We branch on the dtype the reader actually produced —
  * schema-on-read, not a frozen assumption — so both generations load:
  *   - LongType (the nanosAsLong path, set by [[GraftSession.builder]]):
  *     ns longs, truncate to µs (matches DuckDB's own ns→µs truncation).
  *   - TIMESTAMP_NTZ (µs fixtures, no tz in footer): cast to TimestampType;
  *     the session is pinned UTC so NTZ ≡ LTZ wall-clock.
  *   - TimestampType: pass through.
  *
  * 100 TB notes: at scale these become partitioned table layouts (date/lang
  * partition columns) registered in a catalog; schema-on-read from parquet
  * footers either way. The ts normalization is a pure projection, so filter
  * pushdown and column pruning pass straight through it.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Analyzed-plan memo: `spark.read.parquet` re-lists the path and
    * re-reads parquet footers for schema inference on EVERY call, and the
    * bench invokes each key's builder twice — thousands of redundant
    * footer reads per full run. A DataFrame is an immutable logical plan,
    * so the resolved frame is reusable verbatim; this caches the PLAN,
    * never data or results (every execution still scans parquet). Keyed
    * by session uuid so a fresh session (new confs) re-resolves, and by
    * the table's [[graft.tables.CorpusStamp.fingerprint]] so a table
    * rewritten in place re-resolves too: a plan keeps the file sizes it
    * listed, and scanning a grown file with the old size drops the row
    * groups past it (a retrain would seal an artifact of zero rows).
    *
    * Bounded by [[graft.tools.LruMemo]] — one cold entry evicted per
    * insert past capacity — rather than clearing everything at the
    * bound, which would drop the LIVE session's hot plans (and
    * re-resolve every table once) whenever a long-lived multi-session
    * process crossed it. Entries are plain logical plans (no blocks to
    * release), so no eviction hook is needed; dead sessions' entries age
    * out LRU. */
  private val planMemo =
    new graft.tools.LruMemo[(String, String, String, String), DataFrame](512)

  /** Load one table as a DataFrame, applying per-table normalization. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val sid = org.apache.spark.sql.graftnative.SessionIds.uuid(spark)
    // a path the stamp cannot walk (absent, or not on the local file
    // system) keys as "" and fails or resolves in Spark's reader as before
    val fp = scala.util.Try(graft.tables.CorpusStamp.fingerprint(sfDir, name)).getOrElse("")
    planMemo.get("tables_plan", (sid, sfDir, name, fp))(loadRaw(spark, sfDir, name))
  }

  private def loadRaw(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" =>
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      raw.schema("ts").dataType match {
        case LongType => // ns fixtures surfaced as int64 via nanosAsLong
          raw.withColumn("ts", expr("timestamp_micros(cast(ts div 1000 as long))"))
        case TimestampNTZType => // µs fixtures without tz annotation
          // wall clock read AS UTC regardless of the session zone — the
          // bare cast(TimestampType) interprets it in the SESSION zone,
          // shifting every event instant for a non-UTC embedder
          // (spec-asserted in DataQualityOpsSpec's timezone test)
          raw.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              GraftFunctions.ntzUtcMicros(col("ts"))))
        case TimestampType =>
          raw
        case other =>
          throw new IllegalStateException(
            s"events.ts has unsupported parquet type $other — expected " +
              "int64 (TIMESTAMP(NANOS) via nanosAsLong), TIMESTAMP_NTZ, or TIMESTAMP")
      }
    case n =>
      spark.read.parquet(s"$sfDir/$n.parquet")
  }

  /** Load + register as a temp view named `name`. Returns the DataFrame. */
  def view(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    df.createOrReplaceTempView(name)
    df
  }

  /** Register every fixture table as a temp view (for SQL-text entry points). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(view(spark, sfDir, _))
}

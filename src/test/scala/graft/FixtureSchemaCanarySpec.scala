package graft

import org.apache.spark.sql.types._

/** Fixture-drift canary: ONE loud, specific failure when the driver
  * regenerates /root/testdata with different physical types, instead of 20+
  * scattered reds deep inside operator suites.
  *
  * Round 5 motivated this: events.ts silently moved from parquet
  * INT64 TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and every events-reading
  * suite failed with an analysis error nobody could map back to the cause.
  * This spec pins (a) the raw types the loader claims to handle and (b) the
  * normalized schema every operator actually depends on.
  */
class FixtureSchemaCanarySpec extends SparkTestBase {

  test("CANARY: every fixture table loads and normalizes on the current files") {
    val problems = Tables.all.flatMap { t =>
      try { Tables.load(spark, SF, t).schema; None }
      catch { case e: Throwable =>
        Some(s"$t: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" | ")}")
      }
    }
    assert(problems.isEmpty,
      s"""|FIXTURE DRIFT — ${problems.size} table(s) no longer load. The driver
          |likely regenerated /root/testdata with new physical types; fix
          |graft.Tables.loadRaw to normalize the observed schema.
          |${problems.mkString("\n")}""".stripMargin)
  }

  test("CANARY: events.ts raw parquet type is one the loader handles") {
    // Raw read under the loader's own conf (nanosAsLong, set by
    // GraftSession.builder): the supported generations surface as int64
    // (ns fixtures), TIMESTAMP_NTZ (µs, no tz), or TIMESTAMP (µs, tz'd).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$SF/events.parquet").schema("ts").dataType
    assert(Set[DataType](LongType, TimestampNTZType, TimestampType).contains(raw),
      s"events.ts arrived as $raw — a NEW fixture generation. Teach " +
        "graft.Tables.loadRaw (the events branch) to normalize it to TimestampType.")
  }

  test("CANARY: normalized schemas carry the columns+types operators depend on") {
    // (table, column, expected normalized type) — the load-bearing subset:
    // keys joined on, measures aggregated, the timestamp every window/
    // stream op sorts by. Names/widths here are the operator contract;
    // extend when a new operator leans on a new column.
    val contract: Seq[(String, String, DataType)] = Seq(
      ("region", "r_regionkey", IntegerType),
      ("nation", "n_nationkey", IntegerType),
      ("nation", "n_regionkey", IntegerType),
      ("customer", "c_custkey", LongType),
      ("customer", "c_nationkey", IntegerType),
      ("customer", "c_acctbal", DoubleType),
      ("customer", "c_mktsegment", StringType),
      ("supplier", "s_suppkey", LongType),
      ("supplier", "s_nationkey", IntegerType),
      ("part", "p_partkey", LongType),
      ("part", "p_retailprice", DoubleType),
      ("orders", "o_orderkey", LongType),
      ("orders", "o_custkey", LongType),
      ("orders", "o_totalprice", DoubleType),
      ("orders", "o_orderdate", TimestampNTZType),
      ("lineitem", "l_orderkey", LongType),
      ("lineitem", "l_partkey", LongType),
      ("lineitem", "l_suppkey", LongType),
      ("lineitem", "l_quantity", DoubleType),
      ("lineitem", "l_extendedprice", DoubleType),
      ("lineitem", "l_discount", DoubleType),
      ("lineitem", "l_shipdate", TimestampNTZType),
      ("events", "event_id", LongType),
      ("events", "ts", TimestampType),
      ("events", "user_id", LongType),
      ("events", "event_type", StringType),
      ("events", "value", DoubleType),
      ("events", "props", StringType),
      ("documents", "doc_id", LongType),
      ("documents", "text", StringType),
      ("documents", "lang", StringType),
      ("documents", "source", StringType),
      ("documents", "n_chars", LongType),
      ("embeddings", "vec_id", LongType),
      ("embeddings", "embedding", ArrayType(FloatType, containsNull = true)),
      ("embeddings", "label", IntegerType)
    )
    val schemas = contract.map(_._1).distinct
      .map(t => t -> Tables.load(spark, SF, t).schema).toMap
    val drift = contract.flatMap { case (t, c, want) =>
      schemas(t).fields.find(_.name == c) match {
        case None => Some(s"$t.$c: MISSING (have: ${schemas(t).fieldNames.mkString(", ")})")
        case Some(f) if f.dataType != want => Some(s"$t.$c: ${f.dataType} (expected $want)")
        case _ => None
      }
    }
    assert(drift.isEmpty,
      s"""|FIXTURE DRIFT — ${drift.size} column(s) changed under the operators.
          |Either normalize in graft.Tables.loadRaw or update the operator
          |contract here after auditing the affected queries.
          |${drift.mkString("\n")}""".stripMargin)
  }

  test("CANARY: id columns the graded ORDER BYs rely on are UNIQUE") {
    // Several graded keys ORDER BY an id column alone while emitting
    // other columns (scan_events_ns, win_lag_lead, event_anomaly, every
    // documents/embeddings key ordered by doc_id/vec_id). That total
    // order — and therefore the driver's row-by-row compare — is only
    // total because these ids are unique. The discipline for NON-unique
    // sort keys is to extend the ORDER BY to all output columns; if this
    // canary fires, apply that to the keys ordering by the drifted id
    // instead of weakening the canary.
    import org.apache.spark.sql.functions.{col, count, lit}
    val idCols = Seq("events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id", "customer" -> "c_custkey",
      "orders" -> "o_orderkey", "part" -> "p_partkey")
    val dups = idCols.flatMap { case (t, c) =>
      val n = Tables.load(spark, SF, t).groupBy(col(c))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      if (n > 0) Some(s"$t.$c: $n duplicated values") else None
    }
    assert(dups.isEmpty,
      s"""|FIXTURE DRIFT — id columns used as standalone sort keys are no
          |longer unique; extend the affected queries' ORDER BYs (and their
          |DuckDB oracles) to a total order over all output columns.
          |${dups.mkString("\n")}""".stripMargin)
  }

  test("CANARY: embeddings are uniformly 64-dimensional") {
    // the ml_summarizer oracle unrolls generate_series(1, 64), the PQ
    // family slices 16×4 subspaces, and the IVF centroids assert width
    // 64 — a fixture regeneration at another dimension must fail HERE,
    // once, by name, instead of as scattered row-count mismatches
    import org.apache.spark.sql.functions.{col, size}
    val dims = Tables.load(spark, SF, "embeddings")
      .select(size(col("embedding")).as("d")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(dims == Set(64),
      s"""|FIXTURE DRIFT — embedding dimensions $dims (expected exactly 64).
          |Update the ml_summarizer oracle's generate_series bound,
          |PortableQuantizer NumSub/SubDim, and the PortableQuantizerSpec
          |width assertion together.""".stripMargin)
  }

  test("CANARY: documents.text is pure ASCII (byte ≡ codepoint oracle precondition)") {
    // mm_ahash_dedup (and the byte-positioned mm_* metadata oracles) sum
    // UTF-8 BYTES at byte positions on the Spark side while the DuckDB
    // twin sums CODEPOINTS at character positions — identical only while
    // every text is ASCII (1 byte per char, byte value == codepoint). A
    // fixture regeneration that introduces any non-ASCII character would
    // break oracle parity with no operator-suite test pointing at the
    // cause; this canary names it.
    import org.apache.spark.sql.functions.col
    val nonAscii = Tables.load(spark, SF, "documents")
      .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
    assert(nonAscii == 0,
      s"""|FIXTURE DRIFT — $nonAscii document(s) contain non-ASCII text. The
          |mm_ahash_dedup oracle (MultimodalOps.ahashDedupOracle) models the
          |Spark-side UTF-8 byte grid with DuckDB codepoints; either restore
          |an ASCII fixture or rewrite both sides in one unit (e.g. DuckDB
          |unnest over string_to_blob bytes) before trusting the grade.""".stripMargin)
  }
}

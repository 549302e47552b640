package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Tables, TempDirs}
import graft.tables.VersionedTable

/** Graded surface of the versioned table format (graft.tables
  * .VersionedTable): a deterministic create → MERGE → DELETE commit
  * sequence over the customer fixture, graded three ways — the final
  * state, a time-travel read of the ORIGINAL version, and the audit
  * history. Oracles re-derive each state relationally in DuckDB (the
  * table format must agree with plain SQL over the same inputs).
  *
  * The three-version fixture table is built once per (JVM, sfDir) via
  * TempDirs; queries only read manifests after that.
  */
object TableOps {
  type Q = (SparkSession, String) => DataFrame

  /** Build v0=create(customer subset), v1=MERGE(zero rich accounts +
    * insert sentinel), v2=DELETE(negative balances). Deterministic: no
    * timestamps, no randomness, fixed coalesce in merge. */
  private def fixtureTable(s: SparkSession, d: String): VersionedTable = {
    val root = TempDirs.cached("vtable", d) { dir =>
      val base = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_acctbal").as("acctbal"))
      val t = VersionedTable.create(s, dir + "/t", base)
      // sentinel insert key is NEGATIVE: c_custkey is positive at every
      // scale factor, so -1 can never collide and silently become an
      // UPDATE (an additive offset like 999999 is a real customer once
      // the table outgrows it — same collision class mergeUpsert avoids
      // with negated keys)
      val updates = base.filter(col("acctbal") > lit(9000.0))
        .select(col("id"), lit(0.0).as("acctbal"))
        .union(s.range(1).select(lit(-1L).as("id"), lit(1.0).as("acctbal")))
      t.merge(updates, "id")
      t.delete(col("acctbal") < lit(0.0))
      ()
    }
    VersionedTable.open(s, root + "/t")
  }

  /** VT1: final state after create → merge → delete. */
  def vtMergeDelete(s: SparkSession, d: String): DataFrame =
    fixtureTable(s, d).read().orderBy("id")

  /** VT2: time travel — v0 must still read as the ORIGINAL snapshot even
    * after two further commits rewrote / removed its rows. */
  def vtTimeTravel(s: SparkSession, d: String): DataFrame =
    fixtureTable(s, d).read(asOf = Some(0)).orderBy("id")

  /** VT3: audit history — one row per committed version. File counts are
    * layout-dependent, so the graded columns are version ids + row counts
    * (the invariant a user audits: what did each commit do to the data). */
  def vtHistory(s: SparkSession, d: String): DataFrame = {
    val t = fixtureTable(s, d)
    import s.implicits._
    t.versions.map(v => (v, t.read(Some(v)).count()))
      .toDF("version", "n_rows").orderBy("version")
  }

  /** Range-layout orders table with per-file min/max stats on
    * o_totalprice — the fixture for the `graft-vt` data source: the
    * range-repartitioned write gives each file a narrow totalprice band,
    * so a range predicate prunes most files at the MANIFEST level before
    * the parquet scan even lists them. */
  private def statsTable(s: SparkSession, d: String): String = {
    TempDirs.cached("vtsource", d) { dir =>
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, col("o_totalprice"))
      VersionedTable.create(s, dir + "/t", orders, statsCol = Some("o_totalprice"))
      ()
    } + "/t"
  }

  /** VT4: the table read through `spark.read.format("graft-vt")` — the
    * standard reader API with manifest-level file skipping driving the
    * range predicate (pruning itself is plan-asserted in VtDataSourceSpec;
    * the grade here is end-to-end result parity with plain SQL). */
  def vtSourceRead(s: SparkSession, d: String): DataFrame =
    s.read.format("graft-vt").option("path", statsTable(s, d)).load()
      .filter(col("o_totalprice") >= 100000.0 && col("o_totalprice") < 150000.0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** Small-files fixture: two deliberately fragmented commits (16 files
    * each — the shape a streaming/CDC writer leaves behind), then a
    * compaction commit down to 2 files. Built once per (JVM, sfDir). */
  private def compactTable(s: SparkSession, d: String): VersionedTable = {
    val root = TempDirs.cached("vtcompact", d) { dir =>
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val t = VersionedTable.create(s, dir + "/t",
        orders.filter(col("o_orderkey") % 2 === 0).repartition(16))
      t.append(orders.filter(col("o_orderkey") % 2 === 1).repartition(16))
      t.compact(target = 2)
      ()
    }
    VersionedTable.open(s, root + "/t")
  }

  /** VT5: compaction is a pure LAYOUT rewrite — the graded aggregate over
    * the compacted snapshot must equal plain SQL over the raw input (the
    * 32→2 file-count drop itself is asserted in TableOpsSpec via
    * inputFiles). The small-files problem is THE operational tax of
    * streaming ingest at 100 TB: without compaction every downstream
    * scan pays per-file open cost on millions of tiny files. */
  def vtCompact(s: SparkSession, d: String): DataFrame =
    compactTable(s, d).read()
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderpriority")

  /** VT6: change-data-feed between two snapshots — the read an
    * incremental downstream consumer runs instead of reprocessing the
    * whole table (the Delta/Iceberg "CDF" shape). Computed as one full
    * outer join of the two time-travel reads on the merge key: absent
    * old → insert, absent new → delete, value drift → update; unchanged
    * rows are NOT emitted (the point of the feed). The engine's
    * manifests store row data immutably per version, so the diff is
    * derivable from any two versions without a change log — at 100 TB
    * the join is one co-keyed shuffle over the two snapshots, and a
    * key-bucketed layout makes it co-located. */
  def vtChanges(s: SparkSession, d: String): DataFrame = {
    val t = fixtureTable(s, d)
    val v0 = t.read(asOf = Some(0)).select(col("id"), col("acctbal").as("old_acctbal"))
    val v2 = t.read().select(col("id"), col("acctbal").as("new_acctbal"))
    v0.join(v2, Seq("id"), "full_outer")
      .withColumn("change",
        when(col("old_acctbal").isNull, "insert")
          .when(col("new_acctbal").isNull, "delete")
          .when(col("old_acctbal") =!= col("new_acctbal"), "update"))
      .filter(col("change").isNotNull)
      .select(col("change"), col("id"), col("old_acctbal"), col("new_acctbal"))
      .orderBy("id")
  }

  /** Range-layout lineitem slice with per-file blooms on l_orderkey —
    * built once per (JVM, sfDir). repartitionByRange gives each data
    * file a narrow key range, the layout optimizeLayout would produce;
    * the manifest's bloom entries are what readWhereEq probes. */
  private def bloomTable(s: SparkSession, d: String): VersionedTable = {
    val root = TempDirs.cached("vtbloom", d) { dir =>
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"))
        .repartitionByRange(8, col("l_orderkey"))
      VersionedTable.create(s, dir + "/t", li, bloomCol = Some("l_orderkey"))
      ()
    }
    VersionedTable.open(s, root + "/t")
  }

  /** VT7: bloom point lookup — one order's lines read through per-file
    * bloom skipping (pruneFilesEq lists only possibly-matching files
    * before the exact predicate runs; VersionedTableSpec asserts files
    * are actually skipped and that a hash-layout table — where min/max
    * ranges all overlap and CANNOT skip — still prunes). The graded
    * check is result equality with a plain filter, i.e. skipping loses
    * nothing. */
  def vtBloomLookup(s: SparkSession, d: String): DataFrame = {
    val t = bloomTable(s, d)
    // bounded scalar (one long) — the established literal-fetch pattern
    val key = Tables.load(s, d, "lineitem").agg(min("l_orderkey")).head().getLong(0)
    t.readWhereEq(key)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      .orderBy("l_partkey", "l_quantity", "l_extendedprice")
  }

  val queries: Map[String, Q] = Map(
    "vt_bloom_lookup" -> (vtBloomLookup _),
    "vt_changes" -> (vtChanges _),
    "vt_source_read" -> (vtSourceRead _),
    "vt_merge_delete" -> (vtMergeDelete _),
    "vt_time_travel" -> (vtTimeTravel _),
    "vt_history" -> (vtHistory _),
    "vt_compact" -> (vtCompact _),
  )

  val oracles: Map[String, String] = Map(
    // skipping must lose nothing: the bloom-pruned read equals the
    // plain filter over the raw input
    "vt_bloom_lookup" ->
      ("SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem " +
        "WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem) " +
        "ORDER BY l_partkey, l_quantity, l_extendedprice"),
    "vt_source_read" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice >= 100000.0 AND o_totalprice < 150000.0 ORDER BY o_orderkey",
    // v2 = customer with rich accounts zeroed, sentinel inserted, then
    // negative balances deleted — re-derived purely relationally
    "vt_merge_delete" ->
      ("""WITH merged AS (
         |  SELECT c_custkey AS id,
         |         CASE WHEN c_acctbal > 9000 THEN 0.0 ELSE c_acctbal END AS acctbal
         |  FROM customer
         |  UNION ALL SELECT CAST(-1 AS BIGINT), CAST(1.0 AS DOUBLE)
         |)
         |SELECT id, acctbal FROM merged WHERE NOT (acctbal < 0.0) ORDER BY id""".stripMargin),
    "vt_time_travel" ->
      "SELECT c_custkey AS id, c_acctbal AS acctbal FROM customer ORDER BY id",
    // v0 and v2 re-derived relationally (the two oracles above), diffed
    // by the same full-outer-join classification as the Spark side
    "vt_changes" ->
      ("""WITH v0 AS (SELECT c_custkey AS id, c_acctbal AS acctbal FROM customer),
         |merged AS (
         |  SELECT c_custkey AS id,
         |         CASE WHEN c_acctbal > 9000 THEN 0.0 ELSE c_acctbal END AS acctbal
         |  FROM customer
         |  UNION ALL SELECT CAST(-1 AS BIGINT), CAST(1.0 AS DOUBLE)
         |),
         |v2 AS (SELECT id, acctbal FROM merged WHERE NOT (acctbal < 0.0)),
         |j AS (SELECT coalesce(v0.id, v2.id) AS id,
         |             v0.acctbal AS old_acctbal, v2.acctbal AS new_acctbal
         |      FROM v0 FULL JOIN v2 ON v0.id = v2.id)
         |SELECT CASE WHEN old_acctbal IS NULL THEN 'insert'
         |            WHEN new_acctbal IS NULL THEN 'delete'
         |            ELSE 'update' END AS change,
         |       id, old_acctbal, new_acctbal
         |FROM j
         |WHERE old_acctbal IS NULL OR new_acctbal IS NULL
         |   OR old_acctbal <> new_acctbal
         |ORDER BY id""".stripMargin),
    // compaction must not change content: the oracle is the raw input
    "vt_compact" ->
      ("SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
    "vt_history" ->
      ("""SELECT CAST(0 AS INTEGER) AS version, (SELECT count(*) FROM customer) AS n_rows
         |UNION ALL SELECT 1, (SELECT count(*) FROM customer) + 1
         |UNION ALL SELECT 2, (SELECT count(*) FROM customer) + 1
         |                    - (SELECT count(*) FROM customer WHERE c_acctbal < 0)
         |ORDER BY version""".stripMargin),
  )
}

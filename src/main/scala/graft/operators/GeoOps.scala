package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Geospatial analytics suite — the distance/density operators every
  * location-bearing warehouse runs (store-coverage radius joins, grid
  * heat-maps, nearest-facility assignment, bounded KNN), expressed with
  * the engine's blocking discipline: great-circle distance is only ever
  * evaluated on GRID-BLOCKED candidate pairs (3×3 one-degree cell
  * neighborhoods, antimeridian-wrapped), never all-pairs — the exact
  * posture the text family uses for LSH bands (docs/SCALE.md
  * principle 3).
  *
  * The fixtures carry no coordinate columns, so every operator derives
  * deterministic lat/lon from the entity keys in PURE INTEGER
  * arithmetic (`(key·a) mod span`, then one exact division by 1000.0),
  * giving bit-identical coordinates in Spark and the DuckDB oracle —
  * the same derived-column discipline as the hash-derived families.
  * Points land in a [-5°,5°)×[-10°,10°) region (cell grid 10×20), so
  * radius/cell geometry is realistic (1° lat ≈ 111.2 km; 1° lon ≥
  * 110.8 km at |lat| ≤ 5°) and a 50 km radius is always contained in
  * the 3×3 cell neighborhood of its center.
  *
  * Float discipline: haversine is transcendental, so raw distances can
  * differ between engines in the last ulp. Every surfaced distance is
  * rounded to 1 m (`floor(d·1000+0.5)/1000`), every ORDER/rank uses the
  * ROUNDED value + ids, and the 50 km radius cut sits 0.48 m away from
  * the nearest fixture pair (probed over sf0.1's 608k candidates) —
  * 9 orders of magnitude above cross-engine libm divergence. The
  * formula is written with IDENTICAL operation order on both engines
  * (explicit `sin·sin`, no `pow`), and the asin argument is clamped
  * with `least(1.0, ·)` against ulp overshoot near antipodes.
  *
  * 100 TB notes: `geo_grid_density` is one map-side partial
  * aggregation. `geo_radius_join`/`geo_knn` explode the SMALLER
  * (facility) side ×9 and shuffle both sides on the integer cell key —
  * candidate volume is bounded by cell occupancy, and the cell size
  * should track the query radius (cell ≈ R keeps the candidate ratio
  * near the geometric optimum ~π/9·(R/cell)²·9); skewed megacity cells
  * ride AQE skew splitting like every other key. `geo_nearest_hub` is
  * the IVF coarse-assign shape taken to its bounded-dimension limit:
  * the 25 hubs are collected driver-side (the PQ/IVF-codebook
  * treatment), the argmin is one stateless codegen'd projection per
  * row (the native [[org.apache.spark.sql.graftnative.NearestHub]]
  * loop — no join, no per-row shuffle) and the only exchange is the
  * 25-key rollup.
  */
object GeoOps {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** 1 m rounding for surfaced km distances (non-negative). */
  private def r3(c: Column): Column = floor(c * 1000.0 + 0.5) / 1000.0
  /** µ-degree-grade rounding for argmin comparisons (non-negative). */
  private def r6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0

  /** Great-circle km, mean earth radius 6371.0088 (IUGG) — operation
    * order mirrors the oracle text exactly (see file scaladoc). */
  private[graft] def haversineKm(lat1: Column, lon1: Column,
      lat2: Column, lon2: Column): Column = {
    val sdlat = sin(((lat2 - lat1) * lit(Math.PI)) / 360.0)
    val sdlon = sin(((lon2 - lon1) * lit(Math.PI)) / 360.0)
    val h = sdlat * sdlat +
      cos((lat1 * lit(Math.PI)) / 180.0) * cos((lat2 * lit(Math.PI)) / 180.0) *
        sdlon * sdlon
    lit(12742.0176) * asin(sqrt(least(lit(1.0), h)))
  }

  /** The shared haversine text of every oracle: same operation order as
    * [[haversineKm]] (explicit sin·sin, left-assoc products, clamped
    * asin), with `$a`/`$b` the FROM aliases carrying lat/lon. */
  private def havSql(a: String, b: String): String =
    s"12742.0176 * asin(sqrt(least(1.0, " +
      s"sin((($b.lat - $a.lat) * pi()) / 360.0) * sin((($b.lat - $a.lat) * pi()) / 360.0) + " +
      s"cos(($a.lat * pi()) / 180.0) * cos(($b.lat * pi()) / 180.0) * " +
      s"sin((($b.lon - $a.lon) * pi()) / 360.0) * sin((($b.lon - $a.lon) * pi()) / 360.0))))"

  /** Derivation constants per entity side. The facility (supplier)
    * side uses DIFFERENT multipliers/offsets than the target
    * (customer) side: supplier keys are a subset of customer keys at
    * every SF, so a shared derivation would colocate every facility
    * exactly on a customer — min distances degenerately 0.0, the
    * nearest-neighbor discipline never exercised. With distinct
    * constants the closest fixture pair sits at 0.157 km (sf0.1) and
    * the 50 km cut's nearest approach is 0.48 m — still 9 orders of
    * magnitude above cross-engine libm divergence. */
  private val CustCoef = (48271L, 0L, 16807L, 0L)
  private val SuppCoef = (24571L, 11L, 12289L, 7L)

  /** Derived point frame for an entity key: integer milli-degrees
    * first (so the CELL is pure integer arithmetic), one explicit
    * double division for the coordinate. lat ∈ [-5,5), lon ∈ [-10,10);
    * `keep` columns pass through for consumers that aggregate over
    * more than the point (Catalyst prunes whatever they don't use). */
  private[graft] def points(df: DataFrame, key: String,
      coef: (Long, Long, Long, Long) = CustCoef,
      keep: Seq[String] = Nil): DataFrame = {
    val (la, lb, na, nb) = coef
    df.selectExpr(Seq(
      s"$key AS k",
      s"CAST(($key * $la + $lb) % 10000 AS DOUBLE) / 1000.0 - 5.0 AS lat",
      s"CAST(($key * $na + $nb) % 20000 AS DOUBLE) / 1000.0 - 10.0 AS lon",
      s"(($key * $la + $lb) % 10000) DIV 1000 - 5 AS latc",
      s"(($key * $na + $nb) % 20000) DIV 1000 - 10 AS lonc") ++ keep: _*)
  }

  private[graft] def supplierPoints(df: DataFrame): DataFrame =
    points(df, "s_suppkey", SuppCoef)

  /** The same derivation as a DuckDB CTE body (`//` = integer div).
    * The coordinate arithmetic is EXPLICIT-DOUBLE on both engines
    * (Spark parses `1000.0` as a DECIMAL literal, so an uncast quotient
    * would ride an exact-decimal path whose later double cast can land
    * one ulp away from DuckDB's IEEE division — the CAST pins both
    * engines to the identical correctly-rounded double sequence). */
  private def pointsSql(table: String, key: String,
      coef: (Long, Long, Long, Long) = CustCoef,
      keep: Seq[String] = Nil): String = {
    val (la, lb, na, nb) = coef
    s"SELECT $key AS k, " +
      s"CAST(($key * $la + $lb) % 10000 AS DOUBLE) / 1000.0 - 5.0 AS lat, " +
      s"CAST(($key * $na + $nb) % 20000 AS DOUBLE) / 1000.0 - 10.0 AS lon, " +
      s"(($key * $la + $lb) % 10000) // 1000 - 5 AS latc, " +
      s"(($key * $na + $nb) % 20000) // 1000 - 10 AS lonc" +
      keep.map(c => s", $c").mkString + s" FROM $table"
  }

  /** Within-50 km pair set, memoized + checkpointed per (session,
    * sfDir) like the graph family's edge/pair frames: TWO graded keys
    * (geo_radius_join, geo_knn) read it, so the blocked candidate join
    * is priced once per corpus instead of per read. */
  private[graft] def radiusPairs(s: SparkSession, d: String): DataFrame =
    graft.tools.Derived(s, d, "geo_radius_pairs")(
      radiusPairsFrom(supplierPoints(t(s, d, "supplier")),
        points(t(s, d, "customer"), "c_custkey"), radiusKm = 50.0)
        .localCheckpoint(true))

  /** The grid-blocked candidate kernel behind [[radiusPairs]],
    * parameterized on the point frames (both shaped `(k, lat, lon,
    * latc, lonc)`) so StressCheck can drive the same plan at
    * above-fixture scale: the facility (smaller) side explodes ×9 over
    * its 3×3 cell neighborhood — lon cells wrap at the antimeridian
    * (`((c+dl+540) % 360) - 180`), lat cells clamp naturally (latitude
    * does not wrap; out-of-range neighbors simply never match) — and
    * exact haversine ≤ radius runs only on cell-matched pairs. Each
    * target occupies exactly ONE cell and the 9 neighbor cells are
    * distinct (the lon span is ≫ 3 cells), so no candidate pair is
    * produced twice — no post-join dedup needed.
    *
    * COMPLETENESS CONTRACT (enforced, not just documented): pairs beyond
    * the 3×3 neighborhood are never examined, so the result is complete
    * only when the radius cannot reach past one cell — radius ≤
    * 111.045·cos(maxAbsLatDeg), the shortest 1° lon span any point may
    * occupy (1° lat is always ≥ 110.5 km). A larger radius would return
    * silently INCOMPLETE pairs; it now throws instead. Callers needing
    * the raw blocked candidate set (StressCheck's never-all-pairs
    * accounting) use [[cellCandidates]], which makes no radius claim.
    *
    * `maxAbsLatDeg` is a CALLER-ASSERTED bound on the DATA's latitudes,
    * not something this kernel scans for (validating it would add a full
    * pass over both point frames per call — per micro-batch in the
    * streaming twin — to re-check a property of the source): a caller
    * whose points exceed the asserted band still gets silently
    * incomplete pairs. Every in-repo call site's data bound is therefore
    * planted as an explicit max(abs(lat)) ≤ maxAbsLatDeg assertion where
    * the frames are cheap to scan once — GeoOpsSpec for the fixture
    * coefficients (|lat| < 5), StressCheck's geo rows for the synthetic
    * full-earth generator (|lat| < 60) — so the asserted band is a
    * TESTED fact about each generator, not a comment. */
  private[graft] def radiusPairsFrom(facilities: DataFrame, targets: DataFrame,
      radiusKm: Double, maxAbsLatDeg: Double = 60.0): DataFrame = {
    val oneCellKm = 111.045 * math.cos(math.toRadians(maxAbsLatDeg))
    require(radiusKm <= oneCellKm,
      f"radiusKm=$radiusKm%.1f exceeds the 1-cell completeness guarantee " +
        f"($oneCellKm%.1f km at |lat| <= $maxAbsLatDeg%.0f°): the 3x3 cell " +
        "neighborhood cannot cover it — pairs would be silently dropped")
    cellCandidates(facilities, targets).filter(col("d") <= radiusKm)
  }

  /** The raw 3×3-cell-blocked candidate pairs with exact distances, NO
    * radius bound claimed or enforced — candidate ENUMERATION only
    * (candidate volume = cell co-occupancy, never all-pairs). Radius
    * semantics live in [[radiusPairsFrom]], which is where the 1-cell
    * completeness contract is checked. */
  private[graft] def cellCandidates(facilities: DataFrame, targets: DataFrame): DataFrame = {
    val fac = facilities
      .withColumn("dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("k").as("sk"), col("lat").as("slat"), col("lon").as("slon"),
        (col("latc") + col("dlat")).as("nlatc"),
        (((col("lonc") + col("dlon") + 540L) % 360L) - 180L).as("nlonc"))
    fac.join(targets,
        fac("nlatc") === targets("latc") && fac("nlonc") === targets("lonc"))
      .select(col("sk"), col("k").as("ck"),
        haversineKm(col("slat"), col("slon"), col("lat"), col("lon")).as("d"))
  }

  /** The oracle twin of [[radiusPairs]] as a WITH-clause prefix ending
    * in a `cand(sk, ck, d)` CTE. DuckDB's unnest runs in the FROM list
    * (one row per offset pair via two generated columns). */
  private def radiusPairsSql: String =
    "WITH sp AS (" + pointsSql("supplier", "s_suppkey", SuppCoef) + "), " +
      "cp AS (" + pointsSql("customer", "c_custkey") + "), " +
      "se AS (SELECT sp.k AS sk, sp.lat, sp.lon, " +
      "sp.latc + dl.d AS nlatc, ((sp.lonc + dn.d + 540) % 360) - 180 AS nlonc " +
      "FROM sp, (SELECT unnest([-1, 0, 1]) AS d) dl, (SELECT unnest([-1, 0, 1]) AS d) dn), " +
      "cand AS (SELECT se.sk, c.k AS ck, " + havSql("se", "c") + " AS d " +
      "FROM se JOIN cp c ON se.nlatc = c.latc AND se.nlonc = c.lonc " +
      "WHERE " + havSql("se", "c") + " <= 50.0) "

  /** geo_grid_density: customers per one-degree grid cell with the
    * cell's average account balance — the heat-map aggregation. One
    * scan, map-side partial agg on the integer cell key, top-50 cells
    * by count. The mean aggregates EXACT integer cents (c_acctbal is a
    * 2-dp quantity) with one final double division — geo_nearest_hub's
    * avg_dist_km discipline — because a double avg() accumulates in
    * engine-specific partial order and a cell mean within ~1 ulp of a
    * half-cent boundary could flip the last cent cross-engine. */
  def geoGridDensity(s: SparkSession, d: String): DataFrame =
    points(t(s, d, "customer"), "c_custkey", keep = Seq("c_acctbal"))
      .groupBy(col("latc"), col("lonc"))
      .agg(count(lit(1)).as("n_cust"),
        (floor(sum(floor(col("c_acctbal") * 100.0 + 0.5).cast("long")).cast("double")
          / count(lit(1)) + 0.5) / 100.0).as("avg_acctbal"))
      .orderBy(col("n_cust").desc, col("latc"), col("lonc"))
      .limit(50)

  /** geo_radius_join: per supplier, how many customers sit within 50 km
    * and how near the closest one is — the store-coverage question.
    * Grid-blocked (see [[radiusPairs]]); counts are exact integers and
    * the min distance is rounded to 1 m AFTER the min (r3 is monotone,
    * so min-then-round ≡ round-then-min). */
  def geoRadiusJoin(s: SparkSession, d: String): DataFrame =
    radiusPairs(s, d)
      .groupBy(col("sk").as("s_suppkey"))
      .agg(count(lit(1)).as("n_within"), r3(min(col("d"))).as("min_dist_km"))
      .orderBy(col("s_suppkey"))

  /** geo_knn: the 3 nearest customers within 50 km of each supplier —
    * radius-bounded KNN (the standard serving shape: blocking bounds
    * the candidate set, so "k nearest within R" is the honest contract,
    * not unbounded KNN). Rank by ROUNDED distance + customer id; the
    * per-supplier window partitions on the facility grain. */
  def geoKnn(s: SparkSession, d: String): DataFrame = {
    val ranked = radiusPairs(s, d)
      .select(col("sk").as("s_suppkey"), col("ck").as("c_custkey"),
        r3(col("d")).as("dist_km"))
      .withColumn("nn_rank", row_number().over(
        Window.partitionBy("s_suppkey").orderBy(col("dist_km"), col("c_custkey"))))
    ranked.filter(col("nn_rank") <= 3)
      .select("s_suppkey", "nn_rank", "c_custkey", "dist_km")
      .orderBy("s_suppkey", "nn_rank")
  }

  /** The 25 nation-derived hub points, collected driver-side — a
    * BOUNDED dimension (|nation| = 25 at every SF), the same
    * model-state treatment as the PQ/IVF codebooks. */
  private[graft] def hubsOf(s: SparkSession, d: String): Seq[(Int, Double, Double)] =
    t(s, d, "nation").selectExpr(
        "n_nationkey AS hk",
        "CAST((n_nationkey * 7919 + 13) % 10000 AS DOUBLE) / 1000.0 - 5.0 AS hlat",
        "CAST(((n_nationkey * 7919 + 13) * 31) % 20000 AS DOUBLE) / 1000.0 - 10.0 AS hlon")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq
      .sortBy(_._1)

  /** Per-row nearest-hub argmin as ONE stateless projection — the
    * native codegen'd loop ([[org.apache.spark.sql.graftnative
    * .NearestHub]]): the composed `array_min`-over-literal-structs form
    * inlines the trig tree once per hub and falls out of whole-stage
    * codegen past janino's method limit (measured ~90 µs/row
    * interpreted at 25 hubs); the native expression is one primitive
    * loop and stays codegen'd at any hub count. Semantics are the
    * struct ordering on (µ-rounded distance, hub key) — spec-asserted
    * bit-identical to the composed form. Stateless ⇒ streaming-safe
    * verbatim; the streaming twin ([[graft.streaming.StreamingOps]])
    * reuses this Column, and the batch oracle grades both. */
  private[graft] def nearestHubStruct(hubs: Seq[(Int, Double, Double)],
      lat: Column, lon: Column): Column =
    org.apache.spark.sql.graftnative.GraftNative.nearestHub(lat, lon,
      hubs.map(_._1).toArray, hubs.map(_._2).toArray, hubs.map(_._3).toArray)

  /** The composed (builtin-only) twin of [[nearestHubStruct]], kept as
    * the spec's independent oracle for the native loop — an `array_min`
    * over per-hub haversine struct branches with the same
    * (µ-rounded d, hk) ordering. */
  private[graft] def nearestHubComposed(hubs: Seq[(Int, Double, Double)],
      lat: Column, lon: Column): Column =
    array_min(array(hubs.map { case (hk, hlat, hlon) =>
      struct(r6(haversineKm(lat, lon, lit(hlat), lit(hlon))).as("d"),
        lit(hk).as("hk"))
    }: _*))

  /** geo_nearest_hub: assign every customer to its nearest of the 25
    * nation-derived hub points and report per-hub membership + mean
    * assignment distance. The hub set is a bounded dimension, so the
    * assign is a pure map-side projection ([[nearestHubStruct]] — no
    * join, no per-customer shuffle) followed by one partial-agg-friendly
    * rollup on the 25-key hub grain: strictly one scan + one 25-group
    * aggregation at any corpus size. */
  def geoNearestHub(s: SparkSession, d: String): DataFrame = {
    val hubs = hubsOf(s, d)
    // the mean distance is computed in EXACT micro-km integers: best.d
    // is µ-rounded, so floor(d·1e6+0.5) recovers its integer micro value
    // bit-identically on both engines, the per-hub sum is exact, and the
    // surfaced mean is ONE correctly-rounded double division — immune to
    // the engine-specific summation order a float avg() would ride
    points(t(s, d, "customer"), "c_custkey")
      .select(nearestHubStruct(hubs, col("lat"), col("lon")).as("best"))
      .groupBy(col("best.hk").as("hub_key"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(floor(col("best.d") * 1000000.0 + 0.5).cast("long")).as("sum_micro"))
      .select(col("hub_key"), col("n_assigned"),
        (floor(col("sum_micro").cast("double") /
          (col("n_assigned").cast("double") * 1000.0) + 0.5) / 1000.0).as("avg_dist_km"))
      .orderBy("hub_key")
  }

  /** Build-if-absent PERSISTED geo layout: customer points plus a
    * single-dimension cell id (`(latc+5)·20 + (lonc+10)` ∈ [0,200) —
    * row-major over the grid, so one latitude strip of the 3×3
    * neighborhood is one CONTIGUOUS cell range), committed as a
    * `graft-vt` versioned table and range-clustered on the cell id
    * (`optimizeLayout`) with per-file min/max stats on it. This is the
    * geo analogue of the persisted IVF index: the layout is paid once,
    * committed like data, and every region query after that prunes at
    * the FILE level before any row is read. Crash posture: the v0
    * manifest is the build predicate (its stats entries commit with it)
    * and the v1 cluster commit is resumed if absent; a source table
    * mutated in place (stale CorpusStamp) wipes and rebuilds the layout
    * — safe because the whole table is a DERIVED index over
    * re-derivable points, never source data. The whole check-build
    * section is synchronized on this object: within
    * one JVM (the cache root's lifetime) concurrent first-serves
    * serialize instead of racing VersionedTable.create's
    * single-attempt v0 commit (whose loser would THROW, not retry) or
    * reading files mid-wipe; cross-process coordination is the durable
    * deployment's problem, which PortableQuantizer.indexRootAt's
    * idempotent-txn pattern shows how to solve. */
  private[graft] def geoTable(s: SparkSession, d: String): graft.tables.VersionedTable =
    GeoOps.synchronized {
      val base = graft.TempDirs.cached("vtgeo", d) { _ => () }
      val root = base + "/t"
      val fp = graft.tables.CorpusStamp.fingerprint(d, "customer")
      def build(): graft.tables.VersionedTable = {
        val pts = points(t(s, d, "customer"), "c_custkey")
          .withColumn("cell", (col("latc") + 5L) * 20L + (col("lonc") + 10L))
        val vt = graft.tables.VersionedTable.create(s, root, pts, statsCol = Some("cell"))
        graft.tables.CorpusStamp.write(root, fp)
        vt
      }
      val v0 = java.nio.file.Paths.get(root, "_manifests", "v00000000.json")
      var vt =
        if (!java.nio.file.Files.exists(v0)) build()
        else graft.tables.VersionedTable.open(s, root)
      if (!graft.tables.CorpusStamp.isFresh(root, fp)) {
        // a source table mutated in place under the same path: derived
        // data — wipe and rebuild rather than serve a stale layout
        graft.TempDirs.rmTree(java.nio.file.Paths.get(root))
        vt = build()
      }
      if (vt.currentVersion < 1) vt.optimizeLayout("cell", 8)
      vt
    }

  /** geo_bbox_persisted: a region query SERVED from the persisted
    * cell-clustered layout — the operational posture a 100 TB geo table
    * needs. The box lat ∈ [1,3) × lon ∈ [2,6) is exactly cells
    * {1,2}×{2..5}, i.e. two contiguous cell ranges ([132,135] and
    * [152,155] row-major); each becomes one stats-pruned `readWhere`
    * scan that never lists the non-overlapping files (spec-asserted:
    * files read < files total). The residual exact box filter stays on
    * top — cell pruning is coarse in general even though this box is
    * cell-aligned. */
  def geoBboxPersisted(s: SparkSession, d: String): DataFrame = {
    val vt = geoTable(s, d)
    vt.readWhere(132.0, 135.0).unionAll(vt.readWhere(152.0, 155.0))
      .filter(col("lat") >= 1.0 && col("lat") < 3.0 &&
        col("lon") >= 2.0 && col("lon") < 6.0)
      .select("k", "lat", "lon")
      .orderBy("k")
  }

  // --------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "geo_grid_density" -> (geoGridDensity _),
    "geo_radius_join" -> (geoRadiusJoin _),
    "geo_knn" -> (geoKnn _),
    "geo_nearest_hub" -> (geoNearestHub _),
    "geo_bbox_persisted" -> (geoBboxPersisted _))

  val oracles: Map[String, String] = Map(
    "geo_grid_density" ->
      ("WITH cp AS (" +
        pointsSql("customer", "c_custkey", keep = Seq("c_acctbal")) + ") " +
        "SELECT latc, lonc, CAST(count(*) AS BIGINT) AS n_cust, " +
        "floor(CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) " +
        "/ count(*) + 0.5) / 100.0 AS avg_acctbal " +
        "FROM cp GROUP BY 1, 2 ORDER BY n_cust DESC, latc, lonc LIMIT 50"),
    "geo_radius_join" ->
      (radiusPairsSql +
        "SELECT sk AS s_suppkey, CAST(count(*) AS BIGINT) AS n_within, " +
        "floor(min(d) * 1000.0 + 0.5) / 1000.0 AS min_dist_km " +
        "FROM cand GROUP BY 1 ORDER BY s_suppkey"),
    "geo_knn" ->
      (radiusPairsSql + ", ranked AS (" +
        "SELECT sk AS s_suppkey, ck AS c_custkey, " +
        "floor(d * 1000.0 + 0.5) / 1000.0 AS dist_km, " +
        "CAST(row_number() OVER (PARTITION BY sk " +
        "ORDER BY floor(d * 1000.0 + 0.5) / 1000.0, ck) AS INTEGER) AS nn_rank " +
        "FROM cand) " +
        "SELECT s_suppkey, nn_rank, c_custkey, dist_km FROM ranked " +
        "WHERE nn_rank <= 3 ORDER BY s_suppkey, nn_rank"),
    "geo_bbox_persisted" ->
      ("WITH cp AS (" + pointsSql("customer", "c_custkey") + ") " +
        "SELECT k, lat, lon FROM cp " +
        "WHERE lat >= 1.0 AND lat < 3.0 AND lon >= 2.0 AND lon < 6.0 " +
        "ORDER BY k"),
    "geo_nearest_hub" ->
      ("WITH h AS (SELECT n_nationkey AS hk, " +
        "((n_nationkey * 7919 + 13) % 10000) / 1000.0 - 5.0 AS lat, " +
        "(((n_nationkey * 7919 + 13) * 31) % 20000) / 1000.0 - 10.0 AS lon FROM nation), " +
        "cp AS (" + pointsSql("customer", "c_custkey") + "), " +
        "scored AS (SELECT cp.k, h.hk, " +
        "floor(" + havSql("cp", "h") + " * 1000000.0 + 0.5) / 1000000.0 AS d, " +
        "row_number() OVER (PARTITION BY cp.k ORDER BY " +
        "floor(" + havSql("cp", "h") + " * 1000000.0 + 0.5) / 1000000.0, h.hk) AS rn " +
        "FROM cp CROSS JOIN h) " +
        "SELECT hk AS hub_key, CAST(count(*) AS BIGINT) AS n_assigned, " +
        "floor(CAST(sum(CAST(floor(d * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) " +
        "/ (CAST(count(*) AS DOUBLE) * 1000.0) + 0.5) / 1000.0 AS avg_dist_km " +
        "FROM scored WHERE rn = 1 GROUP BY 1 ORDER BY hub_key"))
}

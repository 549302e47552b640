package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.functions.{GeoMean, Scored, TopK, VectorFunctions}

/** ScalaCheck properties for the pure kernels (SURVEY.md §5.4) — these
  * run generator-driven without a Spark job per case, so hundreds of
  * cases cost milliseconds. Spark-level invariants (sessionize, dedup,
  * filter composition) live in the example-based specs.
  */
object KernelProperties extends Properties("graft.kernels") {

  private val vec: Gen[Array[Float]] =
    Gen.nonEmptyListOf(Gen.chooseNum(-10.0f, 10.0f)).map(_.toArray)
      .suchThat(v => v.exists(_ != 0.0f))

  property("cosine is symmetric") = forAll(vec, vec) { (a, b) =>
    val n = math.min(a.length, b.length)
    val (x, y) = (a.take(n), b.take(n))
    // bit-compare: a truncated all-zero vector yields NaN on both sides
    java.lang.Double.doubleToLongBits(VectorFunctions.cosineValue(x.toSeq, y.toSeq)) ==
      java.lang.Double.doubleToLongBits(VectorFunctions.cosineValue(y.toSeq, x.toSeq))
  }

  property("cosine of a vector with itself is 1") = forAll(vec) { a =>
    math.abs(VectorFunctions.cosineValue(a.toSeq, a.toSeq) - 1.0) < 1e-9
  }

  property("cosine is positive-scale invariant") =
    forAll(vec, Gen.chooseNum(0.1, 100.0)) { (a, k) =>
      val scaled = a.map(x => (x * k).toFloat)
      // float re-quantization of the scaled vector perturbs the angle
      math.abs(VectorFunctions.cosineValue(a.toSeq, a.toSeq) -
        VectorFunctions.cosineValue(a.toSeq, scaled.toSeq)) < 1e-3
    }

  property("dot+norms equals the fused kernel on equal-length vectors") =
    forAll(vec, vec) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(n), b0.take(n))
      var dot = 0.0
      var i = 0
      while (i < n) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
      val viaNorms = dot / (VectorFunctions.normValue(a) * VectorFunctions.normValue(b))
      java.lang.Double.doubleToLongBits(viaNorms) ==
        java.lang.Double.doubleToLongBits(VectorFunctions.cosineValue(a.toSeq, b.toSeq))
    }

  property("mixed float/double cosine bit-equals the float kernel on a widened copy") =
    forAll(vec, vec) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(n), b0.take(n))
      java.lang.Double.doubleToLongBits(
        VectorFunctions.cosineMixedValue(a, b.map(_.toDouble))) ==
        java.lang.Double.doubleToLongBits(VectorFunctions.cosineValue(a.toSeq, b.toSeq))
    }

  private val positives: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.chooseNum(0.1, 1000.0))

  property("geomean merge is associative across arbitrary splits") =
    forAll(positives, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val k = cut % xs.length
      val (l, r) = xs.splitAt(k)
      val whole = xs.foldLeft(GeoMean.zero)((b, x) => GeoMean.reduce(b, x))
      val split = GeoMean.merge(
        l.foldLeft(GeoMean.zero)((b, x) => GeoMean.reduce(b, x)),
        r.foldLeft(GeoMean.zero)((b, x) => GeoMean.reduce(b, x)))
      math.abs(GeoMean.finish(whole) - GeoMean.finish(split)) < 1e-9
    }

  private val scoredList: Gen[List[Scored]] =
    Gen.nonEmptyListOf(for {
      // narrow score range so ties (the id tie-break path) actually occur
      s <- Gen.chooseNum(0, 5)
      id <- Gen.chooseNum(0L, 1000L)
    } yield Scored(s.toDouble, id))

  property("topk over arbitrary partition splits equals global sort-take") =
    forAll(scoredList, Gen.chooseNum(1, 5), Gen.chooseNum(0, 100)) { (xs, k, cut) =>
      val agg = TopK(k)
      val expected = xs.distinct
        .sortBy(x => (-x.score, x.id)).take(k)
      // dedupe ids so "expected" has a unique answer (equal Scored values
      // are interchangeable anyway); split anywhere, reduce each side,
      // merge — must equal the single-pass reduce AND the global sort
      val ys = xs.distinct
      val (l, r) = ys.splitAt(cut % ys.length)
      val whole = ys.foldLeft(agg.zero)(agg.reduce)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      agg.finish(whole).items == expected &&
        agg.finish(merged).items == expected &&
        agg.merge(merged, agg.zero).items == expected
    }

  private val doc: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon"))

  property("simhash sketch is token-order invariant") = forAll(doc) { toks =>
    KernelPropertiesHelper.sketch(toks) ==
      KernelPropertiesHelper.sketch(scala.util.Random.shuffle(toks))
  }

  // BNL block sizing: K grows with n so per-block rows never exceed the
  // target (per-task memory is 2 blocks — bounding the block bounds the
  // task at ANY corpus size), K never drops below the parallelism floor,
  // and K is monotone in n.
  property("deriveChunks bounds block size and is monotone") =
    forAll(Gen.chooseNum(1L, 100000000L), Gen.chooseNum(0L, 1000000L)) { (n, d) =>
      val k = VectorFunctions.deriveChunks(n)
      val k2 = VectorFunctions.deriveChunks(n + d)
      k >= 16 &&
        (n + k - 1) / k <= VectorFunctions.TargetBlockRows &&
        k2 >= k
    }

  // int8 quantization math (the scalar twin of emb_quantize_int8's
  // column expressions): codes stay in [-127, 127] and reconstruction
  // error never exceeds half a quantization step.
  property("int8 quantization codes bounded and error <= scale/2") = forAll(vec) { a =>
    val d = a.map(_.toDouble)
    val sc = d.map(math.abs).max / 127.0
    sc == 0.0 || d.forall { x =>
      val q = math.floor(x / sc + 0.5)
      math.abs(q) <= 127 && math.abs(x - q * sc) <= sc / 2.0 + 1e-12
    }
  }

  // --- geo grid-blocking invariants (GeoOps' 3×3 cell discipline) ---

  /** Plain-Scala twin of GeoOps.haversineKm (same operation order). */
  private def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val sdlat = math.sin(((lat2 - lat1) * math.Pi) / 360.0)
    val sdlon = math.sin(((lon2 - lon1) * math.Pi) / 360.0)
    val h = sdlat * sdlat +
      ((math.cos((lat1 * math.Pi) / 180.0) * math.cos((lat2 * math.Pi) / 180.0)) * sdlon) * sdlon
    12742.0176 * math.asin(math.sqrt(math.min(1.0, h)))
  }

  /** The mathematical core of blocking COMPLETENESS: at |lat| ≤ 60 any
    * two points within 50 km share a 3×3 one-degree cell neighborhood
    * (lat cells differ ≤ 1; lon cells differ ≤ 1 after antimeridian
    * wrap). Proof sketch: Δlat ≤ 50/111.19 < 0.45°, and d ≥
    * R·sin(Δlon/2)·2·√(cosλ₁cosλ₂) ≥ R·sin(Δlon/2) at cosλ ≥ 0.5 ⇒
    * Δlon ≤ 0.9°. The generator plants the second point NEAR the first
    * (±0.8° each axis, lon wrapped) so the ≤50 km branch is exercised,
    * not vacuous. */
  property("within-50km points always land in adjacent grid cells (|lat|<=60, wrap-aware)") =
    forAll(Gen.chooseNum(-59.999, 59.999), Gen.chooseNum(-180.0, 179.999),
      Gen.chooseNum(-0.8, 0.8), Gen.chooseNum(-0.8, 0.8)) { (la1, lo1, dLat, dLon) =>
      val la2 = math.max(-59.999, math.min(59.999, la1 + dLat))
      val lo2raw = lo1 + dLon
      val lo2 = if (lo2raw >= 180.0) lo2raw - 360.0
        else if (lo2raw < -180.0) lo2raw + 360.0 else lo2raw
      val d = hav(la1, lo1, la2, lo2)
      d > 50.0 || {
        val dlatCells = math.abs(math.floor(la1).toLong - math.floor(la2).toLong)
        val raw = math.abs(math.floor(lo1).toLong - math.floor(lo2).toLong)
        val dlonCells = math.min(raw, 360L - raw)
        dlatCells <= 1 && dlonCells <= 1
      }
    }

  /** The integer cell derivation equals floor of the double coordinate —
    * the invariant that lets the shuffle key stay pure-integer while the
    * distance math runs on doubles. */
  property("integer milli-degree cell == floor(double coordinate)") =
    forAll(Gen.chooseNum(1L, 1L << 40)) { k =>
      val latMilli = (k * 48271) % 120000
      val lonMilli = (k * 16807) % 360000
      (latMilli / 1000 - 60) == math.floor(latMilli.toDouble / 1000.0 - 60.0).toLong &&
        (lonMilli / 1000 - 180) == math.floor(lonMilli.toDouble / 1000.0 - 180.0).toLong
    }

  /** The neighbor-cell wrap expression stays in [-180,179] and is the
    * true mod-360 neighborhood. */
  property("lon neighbor-cell wrap is total and correct") =
    forAll(Gen.chooseNum(-180L, 179L), Gen.oneOf(-1L, 0L, 1L)) { (lonc, dl) =>
      val n = ((lonc + dl + 540L) % 360L) - 180L
      n >= -180L && n <= 179L &&
        ((n - (lonc + dl)) % 360L == 0L)
    }
}

/** Plain-Scala twin of the native simhash64 expression's kernel
  * (order-invariance holds because the sketch is a sum of per-token
  * sign vectors). */
object KernelPropertiesHelper {
  def sketch(toks: Seq[String]): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Int](64)
    toks.foreach { tk =>
      val md = digest.digest(tk.getBytes("UTF-8"))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (md(i) & 0xffL); i += 1 }
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

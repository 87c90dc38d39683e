package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Epsg, PolarStereo, Utm}

/**
 * Registry-wide CRS round-trip property suite (the q82 edge-probe
 * pattern generalized): for EVERY dispatchable EPSG family, seeded
 * random probes over the CRS's published domain plus the adversarial
 * edges — hemisphere boundary, antimeridian, near-pole, far-from-
 * central-meridian — must survive fwd ∘ inv within a per-family
 * tolerance. CoreSpec-style deterministic sampling (seed 42), so a
 * failure reproduces exactly.
 *
 * Tolerances: closed-form families (Mercator/PS) round-trip to ~1e-9
 * deg; series kernels (UTM/TM/LCC/AEA) carry the order-n^3 Krueger /
 * Snyder truncation; datum-shifted chains (27700) add the Helmert
 * negation-inverse cross terms (~1e-6 deg ~ 10 cm).
 */
class CrsPropertySpec extends AnyFunSuite with SparkSpec {

  private def rng = new scala.util.Random(42)

  /** probe `n` uniform points in the lon/lat box, plus the box corners. */
  private def probes(lonMin: Double, lonMax: Double,
                     latMin: Double, latMax: Double, n: Int = 200): Seq[(Double, Double)] = {
    val r = rng
    val rand = (1 to n).map { _ =>
      (lonMin + r.nextDouble() * (lonMax - lonMin),
       latMin + r.nextDouble() * (latMax - latMin))
    }
    val corners = for (lon <- Seq(lonMin, lonMax); lat <- Seq(latMin, latMax)) yield (lon, lat)
    rand ++ corners
  }

  private def roundTrip(code: Int, pts: Seq[(Double, Double)], tolDeg: Double): Unit = {
    val inv = Epsg.toLonLat(code)   // projected -> WGS84
    val fwd = inv.inverse           // WGS84 -> projected
    pts.foreach { case (lon, lat) =>
      val (e, n) = fwd.toSourcePt(lon, lat)
      assert(java.lang.Double.isFinite(e) && java.lang.Double.isFinite(n),
        s"EPSG:$code ($lon,$lat) -> non-finite ($e,$n)")
      val (lon2, lat2) = inv.toSourcePt(e, n)
      // lon compares on the circle: -180 and +180 are the same meridian
      val dLon = math.abs(((lon2 - lon) % 360.0 + 540.0) % 360.0 - 180.0)
      assert(dLon < tolDeg && math.abs(lat2 - lat) < tolDeg,
        s"EPSG:$code ($lon,$lat) -> ($e,$n) -> ($lon2,$lat2)")
    }
  }

  test("EPSG:3857 web mercator round-trips incl. antimeridian edges") {
    roundTrip(3857, probes(-179.999, 179.999, -85.0, 85.0), 1e-9)
  }

  test("UTM zones round-trip across both hemispheres and zone edges") {
    // zone 31 north (Greenwich side), zone 60 south (antimeridian side),
    // zone 1 north (west antimeridian side); probes extend a full zone
    // width beyond the nominal 6-deg zone (the kernel must stay usable
    // on overlap reads)
    roundTrip(32631, probes(-3.0, 9.0, 0.0, 84.0), 1e-8)
    roundTrip(32760, probes(171.0, 180.0, -80.0, 0.0), 1e-8)
    roundTrip(32701, probes(-180.0, -171.0, -80.0, -0.001), 1e-8)
  }

  test("EPSG:2154 Lambert-93 round-trips over metropolitan France") {
    roundTrip(2154, probes(-5.5, 9.8, 41.0, 51.5), 1e-8)
  }

  test("EPSG:5070 CONUS Albers round-trips incl. the standard parallels") {
    val pts = probes(-125.0, -66.5, 24.0, 49.5) ++
      Seq((-96.0, 29.5), (-96.0, 45.5), (-96.0, 23.0)) // parallels + origin lat
    // Snyder's iterative inverse stops at ~1e-8 deg residual
    roundTrip(5070, pts, 5e-8)
  }

  test("EPSG:3413 polar stereographic round-trips NEAR THE POLE") {
    val pts = probes(-180.0, 180.0, 60.0, 89.999) ++
      Seq((0.0, 89.9999), (-45.0, 89.9999), (135.0, 89.9999), (-45.0, 70.0))
    roundTrip(3413, pts, 1e-7)
  }

  test("EPSG:27700 BNG (datum-shifted TM) round-trips over the UK box") {
    roundTrip(27700, probes(-8.5, 2.0, 49.7, 61.0), 1e-6)
  }

  test("EPSG:2193 NZTM round-trips toward the antimeridian") {
    roundTrip(2193, probes(166.0, 179.9, -47.5, -34.0), 1e-7)
  }

  test("pole is a FIXED POINT of the PS forward (projected = false origin)") {
    val fwd = Epsg.fromLonLat(3413)
    val (e, n) = fwd.toSourcePt(0.0, 90.0)
    // EPSG:3413 has no false easting/northing: the pole maps to (0, 0)
    assert(math.abs(e) < 1e-6 && math.abs(n) < 1e-6, s"pole -> ($e,$n)")
  }

  test("TM central meridian maps to constant easting for any latitude") {
    val fwd = Epsg.fromLonLat(2193) // NZTM central meridian 173 E, FE 1.6e6
    val r = rng
    (1 to 100).foreach { _ =>
      val lat = -47.5 + r.nextDouble() * 13.0
      val (e, _) = fwd.toSourcePt(173.0, lat)
      assert(math.abs(e - 1600000.0) < 1e-6, s"lat $lat easting $e")
    }
  }

  test("forward is strictly monotone in lon along a parallel (no fold-over)") {
    // a projection defect (wrong hemisphere/quadrant term) shows up as
    // non-monotone easting; sweep each family's domain on one parallel
    def sweep(code: Int, lats: Seq[Double], lonMin: Double, lonMax: Double): Unit = {
      val fwd = Epsg.fromLonLat(code)
      lats.foreach { lat =>
        val es = (0 to 100).map(i => fwd.toSourcePt(lonMin + (lonMax - lonMin) * i / 100.0, lat)._1)
        assert(es.zip(es.tail).forall { case (a, b) => a < b },
          s"EPSG:$code lat $lat easting not monotone")
      }
    }
    sweep(3857, Seq(-60.0, 0.0, 60.0), -179.0, 179.0)
    sweep(27700, Seq(50.0, 55.0, 60.0), -8.0, 2.0)
    sweep(2193, Seq(-45.0, -38.0), 167.0, 179.0)
    sweep(2154, Seq(42.0, 48.0), -5.0, 9.0)
    sweep(5070, Seq(30.0, 45.0), -124.0, -67.0)
  }

  test("CrsPoint vs the ColAr tree on a NaN northing: the atan2 branches split") {
    // A NaN northing drives the EPSG:3413 inverse to NaN. CrsPoint runs
    // the DblAr series, where `gt` is Java `>` (NaN > 0 is false), so
    // the composed atan2 falls through to its b == 0 axis branch and
    // returns a FINITE longitude. The ColAr tree (and the SQL twin)
    // branch on Spark GreaterThan (NaN > 0 is true) and return NaN.
    val t = Epsg.toLonLat(3413)
    val p = PolarStereo.Epsg3413
    val df = spark.range(1).select(lit(1000.0).as("x"), lit(Double.NaN).as("y"))
    val Array(r) = df.select(
      t.sourceX(col("x"), col("y")), t.sourceY(col("x"), col("y")),
      PolarStereo.invLonLat(col("x"), col("y"), p)(Utm.ColAr)._1,
      PolarStereo.invLonLat(col("x"), col("y"), p)(Utm.ColAr)._2).collect()
    val (lonD, latD) = PolarStereo.invLonLat(1000.0, Double.NaN, p)(Utm.DblAr)
    assert(r.getDouble(0) === lonD && math.abs(lonD - 45.0) < 1e-9, s"CrsPoint lon $r")
    assert(r.getDouble(1).isNaN && latD.isNaN)
    assert(r.getDouble(2).isNaN && r.getDouble(3).isNaN, s"ColAr $r")
  }
}

package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * ST_TRANSFORM for the one reprojection the reference pipeline performs:
 * WGS84 lon/lat -> UTM (WorkflowGeoIndicators.groovy:2283 reprojects the
 * zone envelope to the UTM SRID picked from the zone centroid,
 * WorkflowOSM.groovy:719-775). Implemented from the PUBLIC Karney 2011
 * transverse-Mercator series ("Transverse Mercator with an accuracy of a
 * few nanometers", J. Geod. 85; the same 6th-order Krüger series PROJ's
 * tmerc uses) — nanometre-level agreement with reference implementations,
 * no external library.
 *
 * Forward only: conformal latitude via atanh/sinh, Gauss-Schreiber
 * coordinates, 6th-order alpha series.
 */
object Projection {

  // WGS84
  private val A0 = 6378137.0
  private val F = 1.0 / 298.257223563
  private val E = math.sqrt(F * (2 - F))
  private val N = F / (2 - F)

  private val n2 = N * N; private val n3 = n2 * N; private val n4 = n3 * N
  private val n5 = n4 * N; private val n6 = n5 * N

  /** Rectifying radius A (Karney eq. 14). Package-visible: the spec checks
    * A·π/2 against the published WGS84 quarter meridian (10001965.7293 m). */
  private[geom] val RectA = A0 / (1 + N) * (1 + n2 / 4 + n4 / 64 + n6 / 256)

  /** Karney eq. 35 alpha (forward) coefficients, 6th order. */
  private val Alpha = Array(
    N / 2 - 2.0 / 3 * n2 + 5.0 / 16 * n3 + 41.0 / 180 * n4 - 127.0 / 288 * n5 + 7891.0 / 37800 * n6,
    13.0 / 48 * n2 - 3.0 / 5 * n3 + 557.0 / 1440 * n4 + 281.0 / 630 * n5 - 1983433.0 / 1935360 * n6,
    61.0 / 240 * n3 - 103.0 / 140 * n4 + 15061.0 / 26880 * n5 + 167603.0 / 181440 * n6,
    49561.0 / 161280 * n4 - 179.0 / 168 * n5 + 6601661.0 / 7257600 * n6,
    34729.0 / 80640 * n5 - 3418889.0 / 1995840 * n6,
    212378941.0 / 319334400 * n6)

  private val K0 = 0.9996
  private val FalseEasting = 500000.0
  private val FalseNorthingSouth = 10000000.0

  /** UTM zone of a longitude (1-60). */
  def utmZone(lonDeg: Double): Int =
    math.min(60, (math.floor((lonDeg + 180.0) / 6.0) + 1).toInt)

  def centralMeridianDeg(zone: Int): Double = zone * 6.0 - 183.0

  /** Forward: lon/lat degrees -> (easting, northing) in the given zone. */
  def utmForward(lonDeg: Double, latDeg: Double, zone: Int, north: Boolean): (Double, Double) = {
    val lam = math.toRadians(lonDeg - centralMeridianDeg(zone))
    val phi = math.toRadians(latDeg)
    val sinPhi = math.sin(phi)
    // conformal latitude tau' (Karney eq. 7-9)
    val t = math.sinh(atanh(sinPhi) - E * atanh(E * sinPhi))
    val xiP = math.atan2(t, math.cos(lam))
    val etaP = asinh(math.sin(lam) / math.sqrt(t * t + math.cos(lam) * math.cos(lam)))
    var xi = xiP; var eta = etaP
    var j = 1
    while (j <= 6) {
      xi += Alpha(j - 1) * math.sin(2 * j * xiP) * math.cosh(2 * j * etaP)
      eta += Alpha(j - 1) * math.cos(2 * j * xiP) * math.sinh(2 * j * etaP)
      j += 1
    }
    val e0 = FalseEasting + K0 * RectA * eta
    val n0 = (if (north) 0.0 else FalseNorthingSouth) + K0 * RectA * xi
    (e0, n0)
  }

  @inline private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))
  @inline private def asinh(x: Double): Double = math.log(x + math.sqrt(x * x + 1))

  // ---- Column surface ------------------------------------------------------

  private val fwdUdf = udf { (lon: Double, lat: Double, zone: Int, north: Boolean) =>
    utmForward(lon, lat, zone, north)
  }
  /** ST_TRANSFORM(point, utm) as a Column: struct(_1 = easting, _2 = northing). */
  def stTransformUtm(lon: Column, lat: Column, zone: Column, north: Column): Column =
    fwdUdf(lon, lat, zone, north)

  /**
   * SQL replica for the DuckDB oracle: CTE definitions (to splice after a
   * WITH) computing `easting`/`northing` from a source relation `src` with
   * `lon`/`lat` degree columns; the final CTE is named `utm`. DuckDB lacks
   * hyperbolics, so sinh/cosh/asinh/atanh expand to exp/ln forms; the
   * agreement with the Math.* UDF is ~1e-9 m (libm 1-ulp differences) —
   * oracle queries round to 3 decimals (mm), per the oracle-exactness
   * rules (this is the "6 decimals where libm is involved" class, with
   * extra headroom because coordinates are ~1e6 m).
   */
  def utmForwardSqlCtes(src: String, zone: Int, north: Boolean = true): String = {
    // every constant is CAST(..AS DOUBLE): bare SQL literals are DECIMAL and
    // both overflow (0.9996 * RectA) and change the arithmetic semantics
    def D(x: Double) = s"CAST($x AS DOUBLE)"
    def atanhS(x: String) = s"(0.5 * ln((1 + $x) / (1 - $x)))"
    def sinhS(x: String) = s"((exp($x) - exp(-($x))) / 2)"
    def coshS(x: String) = s"((exp($x) + exp(-($x))) / 2)"
    def asinhS(x: String) = s"ln(($x) + sqrt(($x)*($x) + 1))"
    val lam = s"radians(lon - ${D(centralMeridianDeg(zone))})"
    val sp = "sin(radians(lat))"
    val xiSum = (1 to 6).map(j =>
      s"${D(Alpha(j - 1))} * sin(2*$j*xip) * ${coshS(s"2*$j*etap")}").mkString(" + ")
    val etaSum = (1 to 6).map(j =>
      s"${D(Alpha(j - 1))} * cos(2*$j*xip) * ${sinhS(s"2*$j*etap")}").mkString(" + ")
    val fn = D(if (north) 0.0 else FalseNorthingSouth)
    s"""__utm1 AS (SELECT *, $lam AS lam,
       |  ${sinhS(s"${atanhS(sp)} - ${D(E)} * ${atanhS(s"${D(E)} * $sp")}")} AS tval FROM $src),
       |__utm2 AS (SELECT *, atan2(tval, cos(lam)) AS xip,
       |  ${asinhS("sin(lam) / sqrt(tval*tval + cos(lam)*cos(lam))")} AS etap FROM __utm1),
       |utm AS (SELECT *,
       |  ${D(FalseEasting)} + ${D(K0)} * ${D(RectA)} * (etap + $etaSum) AS easting,
       |  $fn + ${D(K0)} * ${D(RectA)} * (xip + $xiSum) AS northing FROM __utm2)""".stripMargin
  }
}

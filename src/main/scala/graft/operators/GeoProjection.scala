package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** EPSG:2039 (Israel 1993 / Israeli TM Grid) <-> WGS84 geographic
  * coordinates — the projection step the reference performs with pyproj in
  * operators/geocode/__init__.py:21 (`Transformer.from_crs('EPSG:2039',
  * 'EPSG:4326')`).
  *
  * Implemented from the public EPSG registry parameters: Transverse
  * Mercator (Redfearn series, mm-accurate over Israel's extent) on the
  * GRS80 ellipsoid with the ITM natural origin/false offsets, plus the
  * published 3-parameter Israel1993->WGS84 datum shift. Pure math — no
  * native libs — so it runs inside executors with no per-row overhead.
  */
object GeoMath {
  // GRS80 ellipsoid
  private val A = 6378137.0
  private val F = 1.0 / 298.257222101
  private val E2 = F * (2 - F)
  private val EP2 = E2 / (1 - E2)

  // ITM projection parameters (EPSG:2039)
  private val Lat0 = math.toRadians(31.0 + 44.0 / 60 + 3.817 / 3600)
  private val Lon0 = math.toRadians(35.0 + 12.0 / 60 + 16.261 / 3600)
  private val K0 = 1.0000067
  private val FE = 219529.584
  private val FN = 626907.390

  // Israel 1993 -> WGS84 geocentric translation (EPSG:1073, metres)
  private val DX = -48.0
  private val DY = 55.0
  private val DZ = 52.0

  /** Meridian arc length from the equator (Redfearn). */
  private def meridianArc(lat: Double): Double = {
    val e2 = E2; val e4 = e2 * e2; val e6 = e4 * e2
    A * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * lat
      - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * math.sin(2 * lat)
      + (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * lat)
      - (35 * e6 / 3072) * math.sin(6 * lat))
  }

  /** Geodetic (GRS80/Israel93) -> ITM easting/northing. */
  def forward(latDeg: Double, lonDeg: Double): (Double, Double) = {
    val lat = math.toRadians(latDeg); val lon = math.toRadians(lonDeg)
    val n = A / math.sqrt(1 - E2 * math.sin(lat) * math.sin(lat))
    val t = math.tan(lat) * math.tan(lat)
    val c = EP2 * math.cos(lat) * math.cos(lat)
    val aa = (lon - Lon0) * math.cos(lat)
    val m = meridianArc(lat)
    val m0 = meridianArc(Lat0)
    val e = FE + K0 * n * (aa + (1 - t + c) * math.pow(aa, 3) / 6
      + (5 - 18 * t + t * t + 72 * c - 58 * EP2) * math.pow(aa, 5) / 120)
    val nn = FN + K0 * (m - m0 + n * math.tan(lat) * (aa * aa / 2
      + (5 - t + 9 * c + 4 * c * c) * math.pow(aa, 4) / 24
      + (61 - 58 * t + t * t + 600 * c - 330 * EP2) * math.pow(aa, 6) / 720))
    (e, nn)
  }

  /** ITM easting/northing -> geodetic degrees on the Israel93 datum. */
  def inverse(easting: Double, northing: Double): (Double, Double) = {
    val m = meridianArc(Lat0) + (northing - FN) / K0
    val e2 = E2; val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    val mu = m / (A * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * math.pow(e2, 3) / 256))
    val fp = mu + (3 * e1 / 2 - 27 * math.pow(e1, 3) / 32) * math.sin(2 * mu) +
      (21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * math.sin(4 * mu) +
      (151 * math.pow(e1, 3) / 96) * math.sin(6 * mu) +
      (1097 * math.pow(e1, 4) / 512) * math.sin(8 * mu)
    val sinFp = math.sin(fp); val cosFp = math.cos(fp); val tanFp = math.tan(fp)
    val c1 = EP2 * cosFp * cosFp
    val t1 = tanFp * tanFp
    val n1 = A / math.sqrt(1 - e2 * sinFp * sinFp)
    val r1 = A * (1 - e2) / math.pow(1 - e2 * sinFp * sinFp, 1.5)
    val d = (easting - FE) / (n1 * K0)
    val lat = fp - (n1 * tanFp / r1) * (d * d / 2
      - (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * EP2) * math.pow(d, 4) / 24
      + (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * EP2 - 3 * c1 * c1) * math.pow(d, 6) / 720)
    val lon = Lon0 + (d - (1 + 2 * t1 + c1) * math.pow(d, 3) / 6
      + (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * EP2 + 24 * t1 * t1) * math.pow(d, 5) / 120) / cosFp
    (math.toDegrees(lat), math.toDegrees(lon))
  }

  /** Geodetic on one ellipsoid -> geocentric XYZ (h = 0). */
  private def toGeocentric(latDeg: Double, lonDeg: Double): (Double, Double, Double) = {
    val lat = math.toRadians(latDeg); val lon = math.toRadians(lonDeg)
    val n = A / math.sqrt(1 - E2 * math.sin(lat) * math.sin(lat))
    (n * math.cos(lat) * math.cos(lon),
      n * math.cos(lat) * math.sin(lon),
      n * (1 - E2) * math.sin(lat))
  }

  /** Geocentric XYZ -> geodetic degrees (iterative, WGS84-scale ellipsoid).
    * Plain sqrt(x²+y²) rather than hypot so the arithmetic is expressible
    * step-for-step in oracle SQL (hypot differs from sqrt at the ulp
    * level; over Israel's extent the difference is < 1e-9 m). */
  private def toGeodetic(x: Double, y: Double, z: Double): (Double, Double) = {
    val lon = math.atan2(y, x)
    val p = math.sqrt(x * x + y * y)
    var lat = math.atan2(z, p * (1 - E2))
    var i = 0
    while (i < 6) {
      val n = A / math.sqrt(1 - E2 * math.sin(lat) * math.sin(lat))
      lat = math.atan2(z + E2 * n * math.sin(lat), p)
      i += 1
    }
    (math.toDegrees(lat), math.toDegrees(lon))
  }

  /** Full EPSG:2039 -> EPSG:4326: TM inverse + datum shift. Returns
    * (lonDeg, latDeg) — the reference's [lon, lat] geometry order. */
  def itmToWgs84(easting: Double, northing: Double): Array[Double] = {
    val (latIsr, lonIsr) = inverse(easting, northing)
    val (x, y, z) = toGeocentric(latIsr, lonIsr)
    val (lat, lon) = toGeodetic(x + DX, y + DY, z + DZ)
    Array(lon, lat)
  }

  /** Full EPSG:4326 -> EPSG:2039: datum shift back + TM forward — the
    * other direction pyproj's Transformer provides. */
  def wgs84ToItm(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val (x, y, z) = toGeocentric(latDeg, lonDeg)
    val (latIsr, lonIsr) = toGeodetic(x - DX, y - DY, z - DZ)
    forward(latIsr, lonIsr)
  }

  /** Constants exposed for oracle-SQL generation: the DuckDB oracle
    * replays this projection step-for-step, and interpolating the JVM's
    * own constants (shortest round-trip decimal form) guarantees literal
    * parity — the only residual divergence is libm-vs-JVM transcendental
    * rounding (≤1 ulp, far below the 5-decimal point_id granularity). */
  object Sql {
    val a: Double = A
    val e2: Double = E2
    val ep2: Double = EP2
    val k0: Double = K0
    val fe: Double = FE
    val fn: Double = FN
    val lon0: Double = Lon0
    val dx: Double = DX; val dy: Double = DY; val dz: Double = DZ
    val merLat0: Double = meridianArc(Lat0)
    val muDen: Double = A * (1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * math.pow(E2, 3) / 256)
    val e1: Double = (1 - math.sqrt(1 - E2)) / (1 + math.sqrt(1 - E2))
    val fp2: Double = 3 * e1 / 2 - 27 * math.pow(e1, 3) / 32
    val fp4: Double = 21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32
    val fp6: Double = 151 * math.pow(e1, 3) / 96
    val fp8: Double = 1097 * math.pow(e1, 4) / 512
  }
}

/** DataFrame-level wrapper for the projection. */
object GeoProjection {

  /** Adds [lon, lat] WGS84 geometry as `outCol` from ITM easting/northing
    * columns of `df`.
    *
    * The projection math runs once per distinct pair of the caller's
    * coordinate `domain` (a frame with columns named `eastingCol` and
    * `northingCol`), and a broadcast left join maps that small lookup back
    * onto `df`. The row stream keeps whole-stage codegen and column
    * pruning, and a static domain makes this a stream-static join, legal
    * on a stream. Join equality on doubles is exact: both sides carry the
    * same values bit-for-bit.
    *
    * Contract: `domain` must contain every non-null (easting, northing)
    * pair occurring in `df`; a pair it lacks gets null geometry. Extra
    * pairs are harmless (unmatched rows on the broadcast side). Null
    * coordinates yield null geometry. */
  def withWgs84(df: DataFrame, eastingCol: String, northingCol: String,
                outCol: String, domain: DataFrame): DataFrame = {
    val coords = domain
      .select(col(eastingCol).as("__graft_e"), col(northingCol).as("__graft_n"))
      .filter(col("__graft_e").isNotNull && col("__graft_n").isNotNull)
      .distinct()
    val schema = StructType(coords.schema.fields :+ StructField(outCol, ArrayType(DoubleType)))
    val projected = coords.mapPartitions { rows =>
      rows.map { r =>
        val geom = GeoMath.itmToWgs84(r.getDouble(0), r.getDouble(1))
        Row.fromSeq(r.toSeq :+ geom.toSeq)
      }
    }(Encoders.row(schema))
    df.join(broadcast(projected),
        col(eastingCol) === col("__graft_e") && col(northingCol) === col("__graft_n"),
        "left")
      .drop("__graft_e", "__graft_n")
  }

  /** The reference's fixed-format point id (helpers.py:57 `calc_point_id`):
    * each coordinate of a [lon, lat] geometry as `%08.5f` with the dot
    * stripped, longitude first. */
  def pointId(geometry: Column): Column = concat(
    translate(format_string("%08.5f", element_at(geometry, 1)), ".", ""),
    translate(format_string("%08.5f", element_at(geometry, 2)), ".", ""))
}

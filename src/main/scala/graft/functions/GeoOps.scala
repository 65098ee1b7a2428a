package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geodesic / grid scalar functions (SURVEY §2.8 geo row; §4 custom
  * work 4). The reference anchors an oblique-Mercator projection at
  * each polygon centroid to buffer geodesic squares
  * (monthly.py:147-161, 194-211); at engine level the load-bearing
  * pieces are (a) a pre-binned grid key that turns spatial predicates
  * into equi-joins / partition pruning, and (b) cheap distance math.
  * All pure column arithmetic — no UDFs.
  */
object GeoOps {

  val EarthRadiusKm = 6371.0088
  val KmPerDegLat = 111.32

  /** Fixed-resolution grid cell id: one long key packing
    * (floor(lat/cell), floor(lon/cell)) — the `cell_id` used for
    * spatial filter pushdown and co-located spatial joins
    * (SURVEY §2.2 spatial filter). 2^20 offset keeps both components
    * non-negative for any Earth coordinate at cell sizes ≥ 1e-4°. */
  def gridCellId(lat: Column, lon: Column, cellDeg: Double): Column =
    (floor(lat / cellDeg).cast("long") + 1048576L) * 4194304L +
      (floor(lon / cellDeg).cast("long") + 1048576L)

  /** Equirectangular distance (km) with the meridian-convergence
    * factor fixed at a reference latitude — exact-arithmetic-only
    * (mul/add/sqrt), so it is oracle-reproducible bit-for-bit. Good
    * within ~0.5 % for regional extents like the reference's Senegal
    * AOI. */
  def equirectKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column,
                 cosRefLat: Double): Column = {
    val dy = (lat2 - lat1) * KmPerDegLat
    val dx = (lon2 - lon1) * (KmPerDegLat * cosRefLat)
    sqrt(dy * dy + dx * dx)
  }

  /** Haversine great-circle distance (km) — the exact form for
    * engine use (libm trig; spec-tested rather than oracle-hashed
    * because sin/cos last-ulp behavior is engine-specific). */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val rad = math.Pi / 180.0
    val dLat = (lat2 - lat1) * rad
    val dLon = (lon2 - lon1) * rad
    val a = pow(sin(dLat / 2), 2) +
      cos(lat1 * rad) * cos(lat2 * rad) * pow(sin(dLon / 2), 2)
    lit(2.0 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** Lat/lon → unit-sphere Cartesian (presto.py:299-309) — the
    * model-input encoding. */
  def toCartesian(lat: Column, lon: Column): Seq[Column] = {
    val rad = math.Pi / 180.0
    Seq(
      (cos(lat * rad) * cos(lon * rad)).as("cart_x"),
      (cos(lat * rad) * sin(lon * rad)).as("cart_y"),
      sin(lat * rad).as("cart_z"))
  }
}

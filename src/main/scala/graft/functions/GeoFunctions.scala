package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geographic predicates (Jane: PostGIS-backed geo search on event/station
  * indices — bounding box, point-radius, polygon).
  *
  * Everything is plain Catalyst expressions (codegen-friendly, pushdown-
  * friendly); no UDFs. For oracle-checked queries the same formulas exist
  * as SQL text in [[graft.queries.JaneQueries]] — keep in sync.
  */
object GeoFunctions {

  val EarthRadiusKm = 6371.0

  /** Great-circle distance in km (haversine). */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) + cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** minlat/maxlat/minlon/maxlon box (FDSN event/station geo params). */
  def inBoundingBox(lat: Column, lon: Column,
      minLat: Double, maxLat: Double, minLon: Double, maxLon: Double): Column =
    lat.between(minLat, maxLat) && lon.between(minLon, maxLon)

  /** Great-circle central angle in DEGREES from a fixed center — the unit
    * the FDSN spec defines for event/station minradius/maxradius. One
    * generated SQL text over index columns `latC`/`lonC`, spliced
    * verbatim into both the Spark plan and the DuckDB oracle. Honest
    * contract: the multiply/add structure is identical, but sin/asin/pow
    * go through each engine's libm, so values can differ in the last ulp
    * — the same boundary-ulp exposure the long-green haversine filters
    * (j02/j13) carry. Fine for filters over generic inputs; do NOT emit
    * the raw angle as an output column (round it first, as j02 does).
    */
  def centralAngleDegSql(latC: String, lonC: String,
      centerLat: Double, centerLon: Double): String =
    s"degrees(2 * asin(sqrt(pow(sin(radians($latC - ($centerLat)) / 2), 2) + " +
      s"cos(radians($centerLat)) * cos(radians($latC)) * " +
      s"pow(sin(radians($lonC - ($centerLon)) / 2), 2))))"

  /** Two-point haversine km as ONE generated SQL text over arbitrary
    * column names — the distance-JOIN form of j02's fixed-point filter,
    * spliced verbatim into both the Spark plan and the DuckDB oracle.
    * Same last-ulp libm exposure and the same mitigation as
    * [[centralAngleDegSql]]: filter on it freely, round before emitting.
    */
  def haversineKmSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"2 * $EarthRadiusKm * asin(sqrt(pow(sin(radians($lat2 - ($lat1)) / 2), 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * " +
      s"pow(sin(radians($lon2 - ($lon1)) / 2), 2)))"

  /** Arbitrary (possibly non-convex) simple-polygon containment by ray
    * casting — PostGIS `ST_Contains` parity: the point is inside iff a ray
    * to +longitude crosses an odd number of edges. Generates the
    * crossing-count parity predicate over column names `latC`/`lonC` as
    * ONE text used by both Spark `expr` and the DuckDB oracle; every edge
    * is a CASE term, the whole test stays a codegen'd scalar expression.
    * Horizontal edges are safe: their straddle conjunct is false and the
    * IEEE ±Inf/NaN division result never decides the AND.
    */
  def rayCastSql(latC: String, lonC: String)(verts: Seq[(Double, Double)]): String = {
    val terms = verts.indices.map { i =>
      val (y1, x1) = verts(i)
      val (y2, x2) = verts((i + 1) % verts.length)
      s"(CASE WHEN (($y1 > $latC) != ($y2 > $latC)) AND " +
        s"($lonC < (${x2 - x1}) * ($latC - ($y1)) / (${y2 - y1}) + ($x1)) " +
        "THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2) = 1"
  }
}

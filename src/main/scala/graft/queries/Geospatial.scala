package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.Geo

/** GEOMETRY / ST_* pack.
  *
  * Reference `/root/reference/src/common/types/geometry.cpp` ships a core
  * planar GEOMETRY type; SURVEY §1.2 scopes this repo to its euclidean
  * subset (points + closed rings, ST_ distance/area/perimeter/centroid/
  * contains/WKT). `graft.functions.Geo` implements the surface with
  * codegen'd builtins (GeoSpec tests it); the queries spell the identical
  * IEEE arithmetic in plain SQL so DuckDB verifies without its spatial
  * extension, and only q_geo_wkt keeps a hand-built body over Geo. Every
  * ST_ op is row-local → embarrassingly parallel at any scale; the only
  * shuffles below are the final per-nation aggregations.
  */
object Geospatial extends Pack {

  // Synthetic planar coordinates derived from keys: exact small integers
  // in double space, so every engine computes bit-identical results.
  private val pxSql = "CAST(c_custkey % 97 AS DOUBLE)"
  private val pySql = "CAST((c_custkey * 13) % 89 AS DOUBLE)"

  // ---- ST_Distance / ST_DWithin ------------------------------------------
  q("q_geo_distance",
    s"""WITH pts AS (
       |  SELECT c_nationkey, $pxSql AS px, $pySql AS py FROM customer)
       |SELECT c_nationkey,
       |  count(*) AS n_pts,
       |  CAST(sum(CASE WHEN sqrt((px-50)*(px-50) + (py-45)*(py-45)) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
       |  min(sqrt((px-50)*(px-50) + (py-45)*(py-45))) AS d_min,
       |  max(sqrt((px-50)*(px-50) + (py-45)*(py-45))) AS d_max
       |FROM pts GROUP BY c_nationkey ORDER BY c_nationkey""")

  // ---- ST_Contains: ray-cast over a non-convex (L-shaped) ring -----------
  // The oracle unrolls the identical per-edge crossing test, so boundary
  // conventions and IEEE division agree by construction.
  private val ring: Seq[(Double, Double)] =
    Seq((0.0, 0.0), (60.0, 0.0), (60.0, 40.0), (30.0, 40.0), (30.0, 80.0), (0.0, 80.0), (0.0, 0.0))

  private def edgeSql(px: String, py: String): String =
    ring.sliding(2).map { case Seq((xi, yi), (xj, yj)) =>
      s"""(CASE WHEN (($yi > $py) != ($yj > $py))
         | AND $px < ($xj - $xi) * ($py - $yi) / ($yj - $yi) + $xi
         | THEN 1 ELSE 0 END)""".stripMargin.replaceAll("\n", "")
    }.mkString(" + ")

  q("q_geo_polygon",
    s"""WITH pts AS (
       |  SELECT c_nationkey, $pxSql AS px, $pySql AS py FROM customer)
       |SELECT c_nationkey,
       |  CAST(sum(CASE WHEN (${edgeSql("px", "py")}) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       |  count(*) AS n_total
       |FROM pts GROUP BY c_nationkey ORDER BY c_nationkey""")

  // ---- ST_Area / ST_Perimeter / ST_Centroid on per-row rings -------------
  // Right triangle (0,0)-(x,0)-(x,y): closed forms are exact in double
  // space for the small integer legs, so shoelace/HOF vs plain math match
  // bit-for-bit.
  q("q_geo_ring_metrics",
    """SELECT s_suppkey,
      |  CAST(1 + s_suppkey % 10 AS DOUBLE) * CAST(1 + s_suppkey % 7 AS DOUBLE) / 2 AS area,
      |  CAST(1 + s_suppkey % 10 AS DOUBLE) + CAST(1 + s_suppkey % 7 AS DOUBLE)
      |    + sqrt(CAST(1 + s_suppkey % 10 AS DOUBLE) * CAST(1 + s_suppkey % 10 AS DOUBLE)
      |         + CAST(1 + s_suppkey % 7 AS DOUBLE) * CAST(1 + s_suppkey % 7 AS DOUBLE)) AS perim,
      |  2 * CAST(1 + s_suppkey % 10 AS DOUBLE) / 3 AS cx,
      |  CAST(1 + s_suppkey % 7 AS DOUBLE) / 3 AS cy
      |FROM supplier ORDER BY s_suppkey""")

  // ---- WKT round-trip ----------------------------------------------------
  built("q_geo_wkt",
    """SELECT n_nationkey,
      |  concat('POINT (', CAST(CAST(n_nationkey * 3 AS DOUBLE) AS VARCHAR), ' ',
      |         CAST(CAST(n_nationkey + 1 AS DOUBLE) AS VARCHAR), ')') AS wkt,
      |  sqrt(CAST(n_nationkey * 3 AS DOUBLE) * CAST(n_nationkey * 3 AS DOUBLE)
      |     + CAST(n_nationkey + 1 AS DOUBLE) * CAST(n_nationkey + 1 AS DOUBLE)) AS d_origin
      |FROM nation ORDER BY n_nationkey""") { (s, dir) =>
    val wktIn = concat(lit("POINT("), (col("n_nationkey") * 3).cast("string"),
      lit(" "), (col("n_nationkey") + 1).cast("string"), lit(")"))
    val p = Geo.stPointFromText(wktIn)
    Tables.nation(s, dir)
      .select(col("n_nationkey"),
        Geo.stAsText(p).as("wkt"),
        Geo.stDistance(p, Geo.stPoint(lit(0.0), lit(0.0))).as("d_origin"))
      .orderBy("n_nationkey")
  }
}

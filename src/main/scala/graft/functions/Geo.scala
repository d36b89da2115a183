package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Minimal planar GEOMETRY surface.
  *
  * Reference: `/root/reference/src/common/types/geometry.cpp` (core
  * GEOMETRY type: POINT/LINESTRING/POLYGON with WKT/WKB text round-trip)
  * and the ST_* scalar surface it feeds. SURVEY §1.2 scopes this repo to
  * the planar euclidean subset: points as `struct<x double, y double>`,
  * rings as `array<struct<x,y>>` (closed: first vertex repeated last).
  *
  * Everything here is composed from codegen'd builtins — arithmetic,
  * `transform`/`aggregate` HOFs, `regexp_extract` — so the whole surface
  * stays inside whole-stage codegen: no UDFs, no driver round-trips,
  * row-local at any scale.
  */
object Geo {

  /** POINT constructor — struct<x,y>. */
  def stPoint(x: Column, y: Column): Column =
    struct(x.cast("double").as("x"), y.cast("double").as("y"))

  def stX(p: Column): Column = p.getField("x")
  def stY(p: Column): Column = p.getField("y")

  /** Euclidean distance (reference ST_Distance on planar points). */
  def stDistance(a: Column, b: Column): Column =
    sqrt(pow(stX(a) - stX(b), 2) + pow(stY(a) - stY(b), 2))

  /** Shoelace area of a closed ring (absolute value, planar). */
  def stArea(ring: Column): Column =
    abs(aggregate(
      sequence(lit(1), size(ring) - 1),
      lit(0.0),
      (acc, i) => {
        val a = element_at(ring, i)
        val b = element_at(ring, i + 1)
        acc + (stX(a) * stY(b) - stX(b) * stY(a))
      }) / 2.0)

  /** Ring perimeter: sum of consecutive-vertex distances. */
  def stPerimeter(ring: Column): Column =
    aggregate(
      sequence(lit(1), size(ring) - 1),
      lit(0.0),
      (acc, i) => acc + stDistance(element_at(ring, i), element_at(ring, i + 1)))

  /** Centroid of a closed ring (area-weighted, shoelace form). */
  def stCentroid(ring: Column): Column = {
    val twiceSigned = aggregate(
      sequence(lit(1), size(ring) - 1),
      lit(0.0),
      (acc, i) => {
        val a = element_at(ring, i)
        val b = element_at(ring, i + 1)
        acc + (stX(a) * stY(b) - stX(b) * stY(a))
      })
    def moment(axis: Column => Column): Column = aggregate(
      sequence(lit(1), size(ring) - 1),
      lit(0.0),
      (acc, i) => {
        val a = element_at(ring, i)
        val b = element_at(ring, i + 1)
        acc + (axis(a) + axis(b)) * (stX(a) * stY(b) - stX(b) * stY(a))
      })
    stPoint(moment(stX) / (lit(3.0) * twiceSigned),
      moment(stY) / (lit(3.0) * twiceSigned))
  }

  /** Point-in-polygon by ray casting (odd crossings of the +x ray).
    *
    * Crossing test per edge (i, i+1):
    *   (yi > py) != (yj > py)  AND  px < (xj-xi)*(py-yi)/(yj-yi) + xi
    * The strict-> vertex convention matches the reference's ray-cast and
    * counts each vertex crossing exactly once; boundary points follow
    * whichever side the parity lands on (both engines use the identical
    * formula, so any convention is cross-engine stable).
    */
  def stContains(ring: Column, p: Column): Column = {
    val crossings = aggregate(
      sequence(lit(1), size(ring) - 1),
      lit(0),
      (acc, i) => {
        val a = element_at(ring, i)
        val b = element_at(ring, i + 1)
        val straddles = (stY(a) > stY(p)) =!= (stY(b) > stY(p))
        val xAtRay = (stX(b) - stX(a)) * (stY(p) - stY(a)) / (stY(b) - stY(a)) + stX(a)
        acc + when(straddles && stX(p) < xAtRay, 1).otherwise(0)
      })
    crossings % 2 === 1
  }

  /** WKT emit for a point; coordinates rendered by Spark's default
    * double→string (matches duckdb's shortest-round-trip for the integral
    * and small-decimal values the fixtures use).
    */
  def stAsText(p: Column): Column =
    concat(lit("POINT ("), stX(p).cast("string"), lit(" "),
      stY(p).cast("string"), lit(")"))

  /** WKT parse for 'POINT (x y)' / 'POINT(x y)'. */
  def stPointFromText(wkt: Column): Column = {
    val num = "(-?[0-9]+(?:\\.[0-9]+)?)"
    stPoint(
      regexp_extract(wkt, s"POINT\\s*\\(\\s*$num\\s+$num\\s*\\)", 1),
      regexp_extract(wkt, s"POINT\\s*\\(\\s*$num\\s+$num\\s*\\)", 2))
  }

  /** Literal closed ring from Scala vertex pairs. */
  def ringLit(vertices: Seq[(Double, Double)]): Column = {
    val closed = if (vertices.head == vertices.last) vertices else vertices :+ vertices.head
    array(closed.map { case (x, y) => stPoint(lit(x), lit(y)) }: _*)
  }
}

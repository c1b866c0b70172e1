package vps.osm

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import vps.SparkTestSession
import vps.geom.Wkt

/** End-to-end reconstruction over the hand-built history
  * [[OsmHistories.edgeCases]]. Every expected row, minor version, validity
  * window and geometry below is worked out by hand from that history (times
  * are minutes after `T0`), not taken from a run of the engine.
  */
class OsmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import OsmHistories.at

  implicit lazy val geomEnc: org.apache.spark.sql.Encoder[Geometry] = {
    vps.geom.Geo.registerUDTs()
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  private lazy val history = OsmHistories.frame(spark, OsmHistories.edgeCases).cache()

  private lazy val geoms = Osm.toGeometry(history).cache()

  /** (type, id, version, minorVersion, changeset, updated, validUntil, visible) */
  private type Key = (Byte, Long, Int, Int, Long, Timestamp, Timestamp, Boolean)
  private def key(t: Int, id: Long, v: Int, minor: Int, cs: Long, from: Int, until: Option[Int],
      visible: Boolean = true): Key =
    (t.toByte, id, v, minor, cs, at(from), until.map(at).orNull, visible)

  // Node 1: one row per changeset; the deleted version keeps the cafe's
  // tags and position. Way 10: node 3's move at 4 predates the way; node 4
  // appears at 12 (minor 1); node 2's two moves in changeset 40 make one
  // minor version at 201. Way 11: deleted at 180 and undeleted at 250 (each
  // a version), node 6 moves at 300. Ways 12-14 carry no tags, so only the
  // relations use them.
  private val expectedNodesAndWays = Set(
    key(1, 1, 1, 0, 1, 0, Some(100)), key(1, 1, 2, 0, 20, 100, Some(150), visible = false),
    key(1, 1, 3, 0, 30, 150, None),
    key(2, 10, 1, 0, 7, 5, Some(12)), key(2, 10, 1, 1, 15, 12, Some(120)),
    key(2, 10, 2, 0, 25, 120, Some(201)), key(2, 10, 2, 1, 40, 201, None),
    key(2, 11, 1, 0, 8, 8, Some(180)), key(2, 11, 2, 0, 35, 180, Some(250), visible = false),
    key(2, 11, 3, 0, 45, 250, Some(300)), key(2, 11, 3, 1, 50, 300, None),
    key(2, 15, 1, 0, 10, 10, None), key(2, 16, 1, 0, 10, 10, None))

  // Relation 100 (multipolygon) and 102 (multipolygon and route) get a minor
  // version when node 12 of member way 12 moves at 400. Relation 101's route
  // has two roles, so two rows per version; its deletion at 500 keeps the
  // members. Relation 103 is a route in version 1 and a multipolygon in
  // version 2; each kind has its own timeline, so the route row stays open.
  private val expectedRelations = Seq(
    key(3, 100, 1, 0, 11, 11, Some(400)), key(3, 100, 1, 1, 60, 400, None),
    key(3, 101, 1, 0, 12, 13, Some(500)), key(3, 101, 1, 0, 12, 13, Some(500)),
    key(3, 101, 2, 0, 70, 500, None, visible = false), key(3, 101, 2, 0, 70, 500, None, visible = false),
    key(3, 102, 1, 0, 13, 14, Some(400)), key(3, 102, 1, 1, 60, 400, None),
    key(3, 102, 1, 0, 13, 14, Some(400)), key(3, 102, 1, 1, 60, 400, None),
    key(3, 103, 1, 0, 14, 15, None), key(3, 103, 2, 0, 80, 600, None))

  private def keys(df: org.apache.spark.sql.DataFrame): Seq[Key] =
    df.select($"_type", $"id", $"version", $"minorVersion", $"changeset", $"updated", $"validUntil", $"visible")
      .as[Key].collect().toSeq

  private def geometryOf(t: Int, id: Long, v: Int, minor: Int): Seq[Geometry] =
    geoms.where($"_type" === t && $"id" === id && $"version" === v && $"minorVersion" === minor)
      .select($"geom").as[Geometry].collect().toSeq

  private val square = "11.1 48, 11.101 48, 11.101 48.001, 11.1 48.001, 11.1 48"
  private val outer = "11.19 48.19, 11.21 48.19, 11.21 48.21, 11.19 48.21, 11.19 48.19"
  private val movedOuter = "11.19 48.19, 11.212 48.19, 11.21 48.21, 11.19 48.21, 11.19 48.19"
  private val inner = "11.198 48.198, 11.202 48.198, 11.202 48.202, 11.198 48.202, 11.198 48.198"

  test("reconstructs all three element families with geometries") {
    val byType = geoms.groupBy($"_type").count().as[(Byte, Long)].collect().toMap
    assert(byType === Map(1.toByte -> 3L, 2.toByte -> 10L, 3.toByte -> 12L))
    assert(keys(geoms.where($"_type" =!= 3)).toSet === expectedNodesAndWays)
    assert(keys(geoms.where($"_type" === 3)).sortBy(_.toString) === expectedRelations.sortBy(_.toString))
  }

  test("middle-ground schema and key uniqueness") {
    assert(geoms.columns.toSeq === Seq("_type", "id", "geom", "tags", "changeset",
      "updated", "validUntil", "visible", "version", "minorVersion"))
    // routes legitimately emit one row per role; include tags for relations
    val dupes = geoms.where($"_type" =!= 3)
      .groupBy($"_type", $"id", $"version", $"minorVersion", $"updated")
      .count().where($"count" > 1).count()
    assert(dupes === 0)
    // relation 102 is both a multipolygon and a route: one row of each
    // kind per minor version, so the geometry's dimension joins the key
    val relDupes = geoms.where($"_type" === 3)
      .select($"id", $"version", $"minorVersion", $"updated", $"tags", $"geom").as[(Long, Int, Int, Timestamp, Map[String, String], Geometry)]
      .collect().groupBy(r => (r._1, r._2, r._3, r._4, r._5, Option(r._6).map(_.getDimension)))
      .count(_._2.length > 1)
    assert(relDupes === 0)
  }

  test("validity windows are well-formed and snapshot picks current versions") {
    val bad = geoms.where($"validUntil".isNotNull && $"validUntil" < $"updated").count()
    assert(bad === 0)
    val snap = Osm.snapshot(geoms)
    // now: the 12 open-ended rows (1 node, 4 ways, 7 relation rows)
    assert(snap.count() === 12)
    assert(snap.count() === geoms.where($"validUntil".isNull).count())
    // at minute 100: node 1's deleted version, way 10 minor 1, way 11
    // version 1, ways 15 and 16, relation 100 minor 0, both route rows of
    // relation 101, both kinds of relation 102 and the route of 103
    val early = Osm.snapshot(geoms, at(100))
    assert(keys(early).sortBy(_.toString) === Seq(
      key(1, 1, 2, 0, 20, 100, Some(150), visible = false),
      key(2, 10, 1, 1, 15, 12, Some(120)), key(2, 11, 1, 0, 8, 8, Some(180)),
      key(2, 15, 1, 0, 10, 10, None), key(2, 16, 1, 0, 10, 10, None),
      key(3, 100, 1, 0, 11, 11, Some(400)),
      key(3, 101, 1, 0, 12, 13, Some(500)), key(3, 101, 1, 0, 12, 13, Some(500)),
      key(3, 102, 1, 0, 13, 14, Some(400)), key(3, 102, 1, 0, 13, 14, Some(400)),
      key(3, 103, 1, 0, 14, 15, None)).sortBy(_.toString))
  }

  test("way geometries follow OSM area rules") {
    // building=yes is an area: the closed way is a polygon, and so is its
    // deleted version (nodes resurrected from version 1)
    Seq((1, 0), (2, 0), (3, 0)).foreach { case (v, m) =>
      assert(geometryOf(2, 11, v, m).map(_.toText) === Seq(Wkt.read(s"POLYGON (($square))").toText))
    }
    assert(geometryOf(2, 11, 3, 1).head.equalsExact(Wkt.read(s"POLYGON ((${square.replace("11.101 48,", "11.1015 48,")}))")))
    // highway is a line; a node missing at the way's time is left out
    def line(s: String) = Wkt.read(s"LINESTRING ($s)")
    assert(geometryOf(2, 10, 1, 0).head.equalsExact(line("11 48.1, 11.011 48.1")))
    assert(geometryOf(2, 10, 1, 1).head.equalsExact(line("11 48.1, 11.011 48.1, 11.02 48.1")))
    assert(geometryOf(2, 10, 2, 0).head.equalsExact(line("11 48.1, 11.011 48.1, 11.02 48.1")))
    assert(geometryOf(2, 10, 2, 1).head.equalsExact(line("11 48.102, 11.011 48.1, 11.02 48.1")))
    assert(geometryOf(2, 15, 1, 0).head.equalsExact(line("11.3 48.3, 11.31 48.3")))
    val invalidPolys = geoms.where($"_type" === 2 && $"geom".isNotNull)
      .select($"geom").as[Geometry]
      .filter(g => g.getGeometryType == "Polygon" && !g.isValid).count()
    assert(invalidPolys === 0)
  }

  test("multipolygon relations produce valid polygonal geometry") {
    def polygon(rings: String*) = Wkt.read(rings.map(r => s"($r)").mkString("POLYGON (", ", ", ")")).norm()
    // the duplicated outer member counts once; the inner way is a hole
    assert(geometryOf(3, 100, 1, 0).map(_.norm()) === Seq(polygon(outer, inner)))
    assert(geometryOf(3, 100, 1, 1).map(_.norm()) === Seq(polygon(movedOuter, inner)))
    val both = geometryOf(3, 102, 1, 0)
    assert(both.count(_.getDimension == 2) === 1)
    assert(both.find(_.getDimension == 2).get.norm() === polygon(outer))
    // ... and its route row stitches the two outer ways into one ring
    assert(both.find(_.getDimension == 1).get.equalsTopo(Wkt.read(s"LINESTRING ($outer)")))
    val routes = geoms.where($"_type" === 3 && $"id" === 101 && $"version" === 1)
      .select($"tags", $"geom").as[(Map[String, String], Geometry)].collect().toSeq
    assert(routes.map(_._1).toSet === Set(
      Map("type" -> "route", "route" -> "bus"), Map("type" -> "route", "route" -> "bus", "role" -> "forward")))
    assert(routes.find(_._1.contains("role")).get._2.equalsTopo(Wkt.read("LINESTRING (11.31 48.3, 11.32 48.3)")))
    assert(geometryOf(3, 103, 1, 0).head.equalsTopo(Wkt.read("LINESTRING (11.3 48.3, 11.31 48.3, 11.32 48.3)")))
    assert(geoms.where($"_type" === 3 && $"geom".isNotNull).select($"geom").as[Geometry].collect()
      .filter(_.getDimension == 2).forall(_.isValid))
  }

  test("point geometries carry interesting tags only") {
    val nodes = geoms.where($"_type" === 1)
    assert(nodes.where(size($"tags") === 0).count() === 0)
    assert(nodes.select($"tags").as[Map[String, String]].collect().toSet === Set(Map("amenity" -> "cafe")))
    assert(geometryOf(1, 1, 2, 0).head.equalsExact(Wkt.read("POINT (11 48)")))
    assert(geometryOf(1, 1, 3, 0).head.equalsExact(Wkt.read("POINT (11.001 48)")))
  }

  test("addUserMetadata joins on changeset") {
    val changesets = geoms.select($"changeset".as("id")).distinct()
      .withColumn("uid", lit(7L)).withColumn("user", lit("tester"))
    val joined = Osm.addUserMetadata(geoms, changesets)
    assert(joined.count() === 25)
    assert(joined.where($"user" === "tester").count() === 25)
  }
}

package vps.osm

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** OSM element histories for the reconstruction specs, in the osm2orc shape
  * of FIXTURES.md §3 (coordinates as `decimal(9,7)` / `decimal(10,7)`).
  */
object OsmHistories {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("tags", MapType(StringType, StringType, valueContainsNull = false)),
    StructField("lat", DecimalType(9, 7)),
    StructField("lon", DecimalType(10, 7)),
    StructField("nds", ArrayType(StructType(Seq(StructField("ref", LongType, nullable = false))))),
    StructField("members", ArrayType(StructType(Seq(
      StructField("type", StringType), StructField("ref", LongType), StructField("role", StringType))))),
    StructField("changeset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("uid", LongType),
    StructField("user", StringType),
    StructField("version", LongType, nullable = false),
    StructField("visible", BooleanType, nullable = false)))

  val T0: Long = Timestamp.valueOf("2020-01-01 00:00:00").getTime
  /** `T0` plus `minutes`. */
  def at(minutes: Int): Timestamp = new Timestamp(T0 + minutes * 60000L)

  private def dec(x: Double) =
    if (x.isNaN) null else new java.math.BigDecimal(x).setScale(7, java.math.RoundingMode.HALF_UP)

  def node(id: Long, version: Long, changeset: Long, minute: Int, lon: Double, lat: Double,
      tags: Map[String, String] = Map.empty, visible: Boolean = true): Row =
    Row(id, "node", tags, dec(lat), dec(lon), Seq.empty, Seq.empty, changeset, at(minute),
      changeset % 7, s"u${changeset % 7}", version, visible)

  def deletedNode(id: Long, version: Long, changeset: Long, minute: Int): Row =
    node(id, version, changeset, minute, Double.NaN, Double.NaN, visible = false)

  def way(id: Long, version: Long, changeset: Long, minute: Int, nds: Seq[Long],
      tags: Map[String, String], visible: Boolean = true): Row =
    Row(id, "way", tags, null, null, nds.map(Row(_)), Seq.empty, changeset, at(minute),
      changeset % 7, s"u${changeset % 7}", version, visible)

  def relation(id: Long, version: Long, changeset: Long, minute: Int, members: Seq[(String, Long, String)],
      tags: Map[String, String], visible: Boolean = true): Row =
    Row(id, "relation", tags, null, null, Seq.empty, members.map { case (t, r, role) => Row(t, r, role) },
      changeset, at(minute), changeset % 7, s"u${changeset % 7}", version, visible)

  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  /** Hand-built edge cases (times in minutes after `T0`):
    * - node 1, a cafe, deleted at 100 and undeleted, moved, at 150;
    * - node 2 moved twice in changeset 40 (at 200 and 201);
    * - way 10 (nodes 2, 3, 4): node 3 moved at 4, before the way exists at
    *   5; node 4 appears only at 12; retagged at 120;
    * - way 11, a square building, deleted at 180 and undeleted at 250; its
    *   node 6 moves at 300;
    * - relation 100, a multipolygon (outer ways 12 and 13, inner way 14)
    *   listing way 12 twice; node 12 of its outer ring moves at 400;
    * - relation 101, a route over roads 15 and 16 (role "" and "forward"),
    *   deleted at 500;
    * - relation 102, tagged both multipolygon and route, over ways 12, 13;
    * - relation 103, a route over roads 15, 16 retagged a multipolygon at 600.
    */
  lazy val edgeCases: Seq[Row] = {
    val cafe = Map("amenity" -> "cafe")
    val square = Seq(5L -> (11.1, 48.0), 6L -> (11.101, 48.0), 7L -> (11.101, 48.001), 8L -> (11.1, 48.001))
    val outer = Seq(11L -> (11.19, 48.19), 12L -> (11.21, 48.19), 13L -> (11.21, 48.21), 14L -> (11.19, 48.21))
    val inner = Seq(15L -> (11.198, 48.198), 16L -> (11.202, 48.198), 17L -> (11.202, 48.202), 18L -> (11.198, 48.202))
    val road = Seq(21L -> (11.3, 48.3), 22L -> (11.31, 48.3), 23L -> (11.32, 48.3))
    def firstVersions(ns: Seq[(Long, (Double, Double))], cs: Long, minute: Int) =
      ns.map { case (id, (x, y)) => node(id, 1, cs, minute, x, y) }
    val road15 = Map("highway" -> "primary")
    Seq(
      node(1, 1, 1, 0, 11.0, 48.0, cafe), deletedNode(1, 2, 20, 100), node(1, 3, 30, 150, 11.001, 48.0, cafe),
      node(2, 1, 2, 1, 11.0, 48.1), node(2, 2, 40, 200, 11.0, 48.101), node(2, 3, 40, 201, 11.0, 48.102),
      node(3, 1, 2, 2, 11.01, 48.1), node(3, 2, 3, 4, 11.011, 48.1),
      node(4, 1, 15, 12, 11.02, 48.1),
      node(6, 2, 50, 300, 11.1015, 48.0),
      node(12, 2, 60, 400, 11.212, 48.19)) ++
      firstVersions(square, 4, 3) ++ firstVersions(outer ++ inner, 5, 6) ++ firstVersions(road, 6, 7) ++ Seq(
      way(10, 1, 7, 5, Seq(2, 3, 4), Map("highway" -> "residential")),
      way(10, 2, 25, 120, Seq(2, 3, 4), Map("highway" -> "residential", "name" -> "A")),
      way(11, 1, 8, 8, Seq(5, 6, 7, 8, 5), Map("building" -> "yes")),
      way(11, 2, 35, 180, Nil, Map.empty, visible = false),
      way(11, 3, 45, 250, Seq(5, 6, 7, 8, 5), Map("building" -> "yes")),
      way(12, 1, 9, 9, Seq(11, 12, 13), Map.empty),
      way(13, 1, 9, 9, Seq(13, 14, 11), Map.empty),
      way(14, 1, 9, 9, Seq(15, 16, 17, 18, 15), Map.empty),
      way(15, 1, 10, 10, Seq(21, 22), road15),
      way(16, 1, 10, 10, Seq(22, 23), road15),
      relation(100, 1, 11, 11, Seq(("way", 12L, "outer"), ("way", 13L, "outer"), ("way", 14L, "inner"), ("way", 12L, "outer")),
        Map("type" -> "multipolygon", "natural" -> "water")),
      relation(101, 1, 12, 13, Seq(("way", 15L, ""), ("way", 16L, "forward")), Map("type" -> "route", "route" -> "bus")),
      relation(101, 2, 70, 500, Nil, Map.empty, visible = false),
      relation(102, 1, 13, 14, Seq(("way", 12L, "outer"), ("way", 13L, "outer")),
        Map("type" -> "multipolygon;route", "name" -> "both")),
      relation(103, 1, 14, 15, Seq(("way", 15L, ""), ("way", 16L, "")), Map("type" -> "route")),
      relation(103, 2, 80, 600, Seq(("way", 15L, ""), ("way", 16L, "")), Map("type" -> "multipolygon")))
  }

  /** A seeded history: square buildings, roads, multipolygons (an outer
    * ring split over untagged open ways, a closed inner way) and routes over
    * chained roads, then random edits — node moves (some twice in one
    * changeset), node and way deletions and undeletions, ways gaining and
    * losing nodes, tag edits, member edits and multipolygon/route retags.
    * About a third of consecutive edits share a changeset.
    */
  def synthesized(seed: Long): Seq[Row] = {
    val rng = new Random(seed)
    val rows = mutable.ArrayBuffer.empty[Row]
    var minute = 0
    var changeset = 100L
    def tick(): Unit = { minute += 1 + rng.nextInt(30); if (rng.nextDouble() >= 0.35) changeset += 1 }
    // latest state per element: version, visible and the payload
    val nodes = mutable.LinkedHashMap.empty[Long, (Long, Boolean, Double, Double, Map[String, String])]
    val ways = mutable.LinkedHashMap.empty[Long, (Long, Boolean, Seq[Long], Map[String, String])]
    val rels = mutable.LinkedHashMap.empty[Long, (Long, Boolean, Seq[(String, Long, String)], Map[String, String])]
    def putNode(id: Long, visible: Boolean, lon: Double, lat: Double, tags: Map[String, String]): Unit = {
      val v = nodes.get(id).fold(1L)(_._1 + 1)
      nodes(id) = (v, visible, lon, lat, tags)
      rows += (if (visible) node(id, v, changeset, minute, lon, lat, tags) else deletedNode(id, v, changeset, minute))
    }
    def putWay(id: Long, visible: Boolean, nds: Seq[Long], tags: Map[String, String]): Unit = {
      val v = ways.get(id).fold(1L)(_._1 + 1)
      ways(id) = (v, visible, nds, tags)
      rows += way(id, v, changeset, minute, if (visible) nds else Nil, if (visible) tags else Map.empty, visible)
    }
    def putRel(id: Long, visible: Boolean, ms: Seq[(String, Long, String)], tags: Map[String, String]): Unit = {
      val v = rels.get(id).fold(1L)(_._1 + 1)
      rels(id) = (v, visible, ms, tags)
      rows += relation(id, v, changeset, minute, if (visible) ms else Nil, if (visible) tags else Map.empty, visible)
    }
    def square(cx: Double, cy: Double, r: Double): Seq[Long] = {
      val ids = Seq((-r, -r), (r, -r), (r, r), (-r, r)).map { case (dx, dy) =>
        val id = nodes.size + 1L; tick(); putNode(id, visible = true, cx + dx, cy + dy, Map.empty); id
      }
      ids :+ ids.head
    }
    def place() = (11.0 + rng.nextDouble() * 0.2, 48.0 + rng.nextDouble() * 0.2)
    val pois = Seq(Map("amenity" -> "cafe"), Map("shop" -> "bakery", "source" -> "survey"), Map("source" -> "bing"))

    (0 until 6).foreach { _ => val (x, y) = place(); tick(); putNode(nodes.size + 1L, visible = true, x, y, pois(rng.nextInt(3))) }
    (0 until 5).foreach { _ =>
      val (x, y) = place(); val ring = square(x, y, 0.001)
      tick(); putWay(ways.size + 1L, visible = true, ring, Map("building" -> "yes"))
    }
    val roads = (0 until 6).map { _ =>
      val (x, y) = place()
      val ids = (0 until 3 + rng.nextInt(4)).map { k =>
        val id = nodes.size + 1L; tick(); putNode(id, visible = true, x + k * 0.002, y + rng.nextDouble() * 0.001, Map.empty); id
      }
      tick(); val id = ways.size + 1L; putWay(id, visible = true, ids, Map("highway" -> "residential")); id
    }
    (0 until 3).foreach { k =>
      val (x, y) = place()
      val outer = square(x, y, 0.01)
      val inner = square(x, y, 0.002)
      tick(); val a = ways.size + 1L; putWay(a, visible = true, outer.take(3), Map.empty)
      tick(); val b = ways.size + 1L; putWay(b, visible = true, outer.drop(2), Map.empty)
      tick(); val c = ways.size + 1L; putWay(c, visible = true, inner, Map.empty)
      val ms = Seq(("way", a, "outer"), ("way", b, "outer"), ("way", c, "inner")) ++
        (if (k == 0) Seq(("way", a, "outer"), ("node", 1L, "label")) else Nil)
      tick(); putRel(rels.size + 1L, visible = true, ms, Map("type" -> "multipolygon", "natural" -> "water"))
    }
    (0 until 2).foreach { k =>
      // chain two roads: the second starts at the first one's last node
      val first = ways(roads(2 * k))._3
      val second = first.last +: ways(roads(2 * k + 1))._3.tail
      tick(); putWay(roads(2 * k + 1), visible = true, second, ways(roads(2 * k + 1))._4)
      val ms = Seq(("way", roads(2 * k), ""), ("way", roads(2 * k + 1), "forward"))
      tick(); putRel(rels.size + 1L, visible = true, ms, Map("type" -> "route", "route" -> "bus"))
    }

    (0 until 60).foreach { _ =>
      tick()
      rng.nextInt(10) match {
        case 0 | 1 | 2 => // move a node, sometimes twice in one changeset
          val id = 1L + rng.nextInt(nodes.size)
          val (_, visible, x, y, tags) = nodes(id)
          if (visible) {
            putNode(id, visible = true, x + (rng.nextDouble() - 0.5) * 1e-4, y + (rng.nextDouble() - 0.5) * 1e-4, tags)
            if (rng.nextBoolean()) { minute += 1; putNode(id, visible = true, x, y + 2e-5, tags) }
          }
        case 3 => // delete or undelete a node
          val id = 1L + rng.nextInt(nodes.size)
          val (_, visible, x, y, tags) = nodes(id)
          putNode(id, !visible, x, y, tags)
        case 4 => // a way gains or loses a node (open ways only)
          val id = roads(rng.nextInt(roads.size))
          val (_, visible, nds, tags) = ways(id)
          if (visible) putWay(id, visible = true,
            if (nds.size > 2 && rng.nextBoolean()) nds.init else nds :+ (1L + rng.nextInt(nodes.size)), tags)
        case 5 => // delete or undelete a way
          val id = 1L + rng.nextInt(ways.size)
          val (_, visible, nds, tags) = ways(id)
          putWay(id, !visible, nds, tags)
        case 6 => // retag a way
          val id = 1L + rng.nextInt(ways.size)
          val (_, visible, nds, tags) = ways(id)
          if (visible) putWay(id, visible = true, nds, tags + ("name" -> s"n$minute"))
        case 7 => // a relation's members change
          val id = 1L + rng.nextInt(rels.size)
          val (_, visible, ms, tags) = rels(id)
          if (visible && ms.size > 1) putRel(id, visible = true, if (rng.nextBoolean()) ms.tail else ms :+ ms.head, tags)
        case 8 => // a relation is retagged between multipolygon and route, or both
          val id = 1L + rng.nextInt(rels.size)
          val (_, visible, ms, tags) = rels(id)
          val types = Seq("multipolygon", "route", "multipolygon;route")
          if (visible) putRel(id, visible = true, ms, tags + ("type" -> types(rng.nextInt(3))))
        case _ => // delete or undelete a relation
          val id = 1L + rng.nextInt(rels.size)
          val (_, visible, ms, tags) = rels(id)
          putRel(id, !visible, ms, tags)
      }
    }
    rows.toSeq
  }
}

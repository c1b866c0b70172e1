package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Geometry

/** What the generator intends the snapshot to hold for one element. */
final case class Intended(visible: Boolean, geom: Geometry, kind: String)

/** Seeded OSM history: node/way/relation versions with node moves, tag
  * edits and deletions, plus the snapshot the engine should reconstruct.
  */
final case class OsmInput(
    rows: IndexedSeq[Row],
    /** (type, id) -> intended snapshot row, for every element the snapshot must hold. */
    intended: Map[(Byte, Long), Intended])

object OsmGen {
  val region: Region = Region(11.40, 48.05, 11.70, 48.25)

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("tags", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("lat", DoubleType, nullable = true),
    StructField("lon", DoubleType, nullable = true),
    StructField("nds", ArrayType(StructType(Seq(StructField("ref", LongType, nullable = false))),
      containsNull = false), nullable = false),
    StructField("members", ArrayType(StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("ref", LongType, nullable = false),
      StructField("role", StringType, nullable = false))), containsNull = false), nullable = false),
    StructField("changeset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("uid", LongType, nullable = false),
    StructField("user", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("visible", BooleanType, nullable = false)))

  private val Day = 86400000L
  private val T0 = Timestamp.valueOf("2021-01-01 00:00:00").getTime

  /** A node and how it may move: radially about (ax, ay) when `radial`,
    * else by a small translation — either keeps its ring simple.
    */
  private final class Node(val id: Long, val lon0: Double, val lat0: Double,
      val tags: Map[String, String], val created: Long, val ax: Double, val ay: Double,
      val radial: Boolean, val moveShare: Double) {
    var lon: Double = lon0
    var lat: Double = lat0
    val versions = ArrayBuffer.empty[(Long, Double, Double)] // later (time, lon, lat)
    var deletedAt: Option[Long] = None
  }
  private final class Way(val id: Long, val refs: Array[Long], val tags: Map[String, String],
      val isArea: Boolean, val created: Long) {
    var editedAt: Option[Long] = None
    var deletedAt: Option[Long] = None
  }
  private final class Rel(val id: Long, val members: Seq[(Long, String)],
      val tags: Map[String, String], val created: Long, val multipolygon: Boolean,
      val outerWays: Seq[Long], val innerWays: Seq[Long])

  private def n(base: Int, scale: Double): Int = math.max(1, math.round(base * scale).toInt)

  def generate(seed: Long, scale: Double): OsmInput = {
    val rng = new Rng(seed ^ 0x05A1L)
    val nodes = ArrayBuffer.empty[Node]
    val ways = ArrayBuffer.empty[Way]
    val rels = ArrayBuffer.empty[Rel]
    def nodeAt(lon: Double, lat: Double, ax: Double, ay: Double, radial: Boolean,
        tags: Map[String, String] = Map.empty, moveShare: Double = 0.08): Long = {
      val id = nodes.length + 1L
      nodes += new Node(id, lon, lat, tags, T0 + (rng.uniform(0, 30) * Day).toLong, ax, ay, radial, moveShare)
      id
    }
    def wayOf(refs: Array[Long], tags: Map[String, String], isArea: Boolean): Long = {
      val id = ways.length + 1L
      ways += new Way(id, refs, tags, isArea, T0 + (rng.uniform(40, 70) * Day).toLong)
      id
    }
    def ringNodes(pts: Array[(Double, Double)], cx: Double, cy: Double, moveShare: Double = 0.08): Array[Long] =
      pts.map { case (x, y) => nodeAt(x, y, cx, cy, radial = true, moveShare = moveShare) }

    val hot = region.hotSpots(rng, 6)
    val amenities = IndexedSeq("cafe", "school", "pharmacy", "bank", "restaurant")
    val highways = IndexedSeq("residential", "primary", "service", "tertiary")

    // points of interest
    (0 until n(150, scale)).foreach { _ =>
      val (x, y) = region.place(rng, hot, 0.6, 0.01)
      nodeAt(x, y, x, y, radial = false, Map("amenity" -> rng.pick(amenities), "name" -> s"poi${nodes.length}"), 0.10)
    }
    val poiCount = nodes.length
    // buildings: 4-corner closed ways, clustered in the hot spots
    (0 until n(300, scale)).foreach { _ =>
      val (cx, cy) = region.place(rng, hot, 0.6, 0.01)
      val hw = rng.uniform(0.0001, 0.0004); val hh = hw * rng.uniform(0.5, 1.2)
      val corners = Array((cx - hw, cy - hh), (cx + hw, cy - hh), (cx + hw, cy + hh), (cx - hw, cy + hh))
      val ids = ringNodes(corners, cx, cy)
      wayOf(ids :+ ids.head, Map("building" -> "yes"), isArea = true)
    }
    // roads: random walks with a heavy-tailed vertex count
    def roadVertices(): Int = {
      val u = rng.uniform(0, 1)
      if (u < 0.70) rng.int(4, 12) else if (u < 0.95) rng.int(12, 60) else rng.int(60, 250)
    }
    (0 until n(50, scale)).foreach { _ =>
      val (x, y) = region.place(rng, hot, 0.4, 0.02)
      val pts = Shapes.walk(rng, x, y, roadVertices(), 0.0008)
      wayOf(pts.map { case (px, py) => nodeAt(px, py, px, py, radial = false) },
        Map("highway" -> rng.pick(highways)), isArea = false)
    }
    // landuse areas: single closed ways, 16-300 vertices
    (0 until n(8, scale)).foreach { _ =>
      val (cx, cy) = region.place(rng, hot, 0.3, 0.02)
      val pts = Shapes.starRing(rng, cx, cy, rng.uniform(0.002, 0.015), rng.vertexCount(16, 60, 300, 0.2))
      val ids = ringNodes(pts, cx, cy)
      wayOf(ids :+ ids.head, Map("landuse" -> "forest"), isArea = true)
    }
    // multipolygon relations: an outer ring split over untagged open ways
    // plus closed inner ways; two of them have >= 10k outer vertices. Every
    // moved member node adds a minor version that re-assembles the whole
    // relation, so the big ones get a handful of moves, not a share.
    def multipolygon(radius: Double, outerVertices: Int, chunks: Int, inners: Int, innerVertices: () => Int,
        moveShare: Double): Unit = {
      val (cx, cy) = region.place(rng, hot, 0.2, 0.03)
      val outer = ringNodes(Shapes.starRing(rng, cx, cy, radius, outerVertices), cx, cy, moveShare)
      val cuts = (0 to chunks).map(k => k * outer.length / chunks)
      val outerWays = (0 until chunks).map { k =>
        val slice = outer.slice(cuts(k), cuts(k + 1)) :+ outer(cuts(k + 1) % outer.length)
        wayOf(slice, Map.empty, isArea = false)
      }
      val a0 = rng.uniform(0, 2 * math.Pi)
      val aspect = math.cos(math.toRadians(cy))
      val innerWays = (0 until inners).map { k =>
        val a = a0 + k * math.Pi
        val ix = cx + 0.3 * radius * math.cos(a) / aspect; val iy = cy + 0.3 * radius * math.sin(a)
        val ring = ringNodes(Shapes.starRing(rng, ix, iy, radius * rng.uniform(0.1, 0.2), innerVertices()), ix, iy, moveShare)
        wayOf(ring :+ ring.head, Map.empty, isArea = false)
      }
      rels += new Rel(rels.length + 1L,
        outerWays.map(_ -> "outer") ++ innerWays.map(_ -> "inner"),
        Map("type" -> "multipolygon", "natural" -> "water"),
        T0 + (rng.uniform(80, 90) * Day).toLong, multipolygon = true, outerWays, innerWays)
    }
    (0 until n(4, scale)).foreach { _ =>
      multipolygon(rng.uniform(0.005, 0.03), rng.int(40, 400), rng.int(2, 5), rng.int(1, 3), () => rng.int(8, 40), 0.04)
    }
    (0 until 2).foreach { _ =>
      val vertices = math.max(400, (10500 * scale).toInt)
      multipolygon(0.05, vertices, 6, 1, () => 200, 2.0 / vertices)
    }
    // route relations over chained roads (consecutive ways share an end node)
    (0 until n(3, scale)).foreach { _ =>
      val (x0, y0) = region.place(rng, hot, 0.3, 0.02)
      var start = nodeAt(x0, y0, x0, y0, radial = false)
      val members = (0 until rng.int(3, 6)).map { _ =>
        val s = nodes(start.toInt - 1)
        val pts = Shapes.walk(rng, s.lon, s.lat, rng.int(5, 16), 0.0008)
        val rest = pts.tail.map { case (px, py) => nodeAt(px, py, px, py, radial = false) }
        val w = wayOf(start +: rest, Map("highway" -> "primary"), isArea = false)
        start = rest.last
        w -> ""
      }
      rels += new Rel(rels.length + 1L, members, Map("type" -> "route", "route" -> "bus"),
        T0 + (rng.uniform(80, 90) * Day).toLong, multipolygon = false, Nil, Nil)
    }

    // edits: node moves (after every way and relation exists), way tag
    // edits, then deletions of some POIs and buildings
    nodes.foreach { nd =>
      if (rng.chance(nd.moveShare)) {
        val t = T0 + (rng.uniform(100, 160) * Day).toLong
        if (nd.radial) {
          val f = 1.0 + rng.uniform(-0.03, 0.03)
          nd.lon = nd.ax + (nd.lon - nd.ax) * f; nd.lat = nd.ay + (nd.lat - nd.ay) * f
        } else {
          nd.lon += 0.0003 * rng.gaussian(); nd.lat += 0.0003 * rng.gaussian()
        }
        nd.versions += ((t, nd.lon, nd.lat))
      }
    }
    ways.foreach { w =>
      if (w.tags.nonEmpty && rng.chance(0.10)) w.editedAt = Some(T0 + (rng.uniform(100, 160) * Day).toLong)
    }
    nodes.take(poiCount).foreach { nd =>
      if (rng.chance(0.05)) nd.deletedAt = Some(T0 + (rng.uniform(170, 180) * Day).toLong)
    }
    ways.foreach { w =>
      if (w.tags.contains("building") && rng.chance(0.03)) w.deletedAt = Some(T0 + (rng.uniform(170, 180) * Day).toLong)
    }

    // history rows, changesets numbered in time order
    val raw = ArrayBuffer.empty[(Long, Array[Any])] // (time, row fields minus changeset/uid/user)
    def ts(t: Long) = new Timestamp(t)
    val noNds = Seq.empty[Row]; val noMembers = Seq.empty[Row]
    nodes.foreach { nd =>
      var v = 1L
      raw += ((nd.created, Array[Any](nd.id, "node", nd.tags, nd.lat0, nd.lon0, noNds, noMembers, ts(nd.created), v, true)))
      nd.versions.foreach { case (t, lon, lat) =>
        v += 1
        raw += ((t, Array[Any](nd.id, "node", nd.tags, lat, lon, noNds, noMembers, ts(t), v, true)))
      }
      nd.deletedAt.foreach { t =>
        v += 1
        raw += ((t, Array[Any](nd.id, "node", Map.empty[String, String], null, null, noNds, noMembers, ts(t), v, false)))
      }
    }
    ways.foreach { w =>
      val nds = w.refs.toSeq.map(r => Row(r))
      raw += ((w.created, Array[Any](w.id, "way", w.tags, null, null, nds, noMembers, ts(w.created), 1L, true)))
      var v = 1L
      w.editedAt.foreach { t =>
        v += 1
        raw += ((t, Array[Any](w.id, "way", w.tags + ("name" -> s"edited${w.id}"), null, null, nds, noMembers, ts(t), v, true)))
      }
      w.deletedAt.foreach { t =>
        v += 1
        raw += ((t, Array[Any](w.id, "way", Map.empty[String, String], null, null, noNds, noMembers, ts(t), v, false)))
      }
    }
    rels.foreach { r =>
      val members = r.members.map { case (ref, role) => Row("way", ref, role) }
      raw += ((r.created, Array[Any](r.id, "relation", r.tags, null, null, noNds, members, ts(r.created), 1L, true)))
    }
    val rows = raw.sortBy(_._1).zipWithIndex.map { case ((_, f), i) =>
      val changeset = 1000L + i
      val uid = 1L + changeset % 50
      Row(f(0), f(1), f(2), f(3), f(4), f(5), f(6), changeset, f(7), uid, s"u$uid", f(8), f(9))
    }.toIndexedSeq

    // the snapshot the engine must reconstruct, from FINAL node positions
    val coord = (id: Long) => { val nd = nodes(id.toInt - 1); (nd.lon, nd.lat) }
    val intended = Map.newBuilder[(Byte, Long), Intended]
    nodes.take(poiCount).foreach { nd =>
      intended += ((1: Byte, nd.id) -> Intended(nd.deletedAt.isEmpty, Shapes.point(nd.lon, nd.lat), "poi"))
    }
    val wayById = ways.map(w => w.id -> w).toMap
    def wayGeom(w: Way): Geometry = {
      val pts = w.refs.map(coord)
      if (w.isArea) Shapes.polygon(pts.init) else Shapes.line(pts)
    }
    ways.foreach { w =>
      val kind = if (w.tags.contains("building")) "building" else if (w.tags.contains("landuse")) "landuse" else "road"
      if (w.tags.nonEmpty) intended += ((2: Byte, w.id) -> Intended(w.deletedAt.isEmpty, wayGeom(w), kind))
    }
    rels.foreach { r =>
      val g =
        if (r.multipolygon) {
          val shell = r.outerWays.flatMap(id => wayById(id).refs.init).map(coord).toArray
          Shapes.polygon(shell, r.innerWays.map(id => wayById(id).refs.init.map(coord)))
        } else {
          val chain = r.members.map(m => wayById(m._1).refs)
          Shapes.line((chain.head ++ chain.tail.flatMap(_.tail)).map(coord))
        }
      intended += ((3: Byte, r.id) -> Intended(visible = true, g, if (r.multipolygon) "water" else "route"))
    }
    OsmInput(rows, intended.result())
  }
}

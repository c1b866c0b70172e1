package vps.kernels

import java.sql.Timestamp

import org.locationtech.jts.geom.Geometry
import vps.geom.{Geo, Wkb}

/** What every raw element version carries. */
sealed trait RawVersion {
  def version: Long
  def timestamp: Timestamp
  def visible: Boolean
  def tags: Map[String, String]
}

/** One raw node version: coordinates NaN where absent, `interesting` from its own tags. */
final case class NodeVersion(id: Long, version: Long, changeset: Long, timestamp: Timestamp,
    tags: Map[String, String], lat: Double, lon: Double, visible: Boolean, interesting: Boolean) extends RawVersion

/** One raw way version: `nds` are its node refs, `isArea` from its own tags. */
final case class WayVersion(id: Long, version: Long, changeset: Long, timestamp: Timestamp,
    tags: Map[String, String], nds: Seq[Long], visible: Boolean, isArea: Boolean) extends RawVersion

final case class Member(`type`: Byte, ref: Long, role: String)

/** One raw relation version; the flags come from its own tags. */
final case class RelationVersion(id: Long, version: Long, changeset: Long, timestamp: Timestamp,
    tags: Map[String, String], members: Seq[Member], visible: Boolean,
    isMultiPolygon: Boolean, isRoute: Boolean) extends RawVersion

/** A version of way `way`, made at `since`, lists node `id`. */
final case class WayRef(id: Long, way: Long, since: Timestamp)

/** A version of relation `relation`, made at `since`, lists way `id` as a member. */
final case class RelationRef(id: Long, relation: Long, since: Timestamp)

/** A geometry-changing version of node `ref`, routed to the way `id` that references it. */
final case class WayNode(id: Long, ref: Long, changeset: Long, timestamp: Timestamp,
    validUntil: Timestamp, lat: Double, lon: Double)

/** One row of a node's pass, keyed by `id`: one of the node's point rows, or
  * one of its geometry-changing versions routed to the way `id`.
  */
final case class NodeRow(id: Long, point: ElementRow, change: WayNode)

/** One row of member way `wayId`'s geometry timeline, routed to the relation `id`. */
final case class MemberWay(id: Long, wayId: Long, changeset: Long, updated: Timestamp,
    validUntil: Timestamp, geom: Array[Byte], geometryChanged: Boolean)

/** One reconstructed (minor) version of an element, its geometry as WKB. */
final case class ElementRow(id: Long, geom: Array[Byte], tags: Map[String, String], changeset: Long,
    updated: Timestamp, validUntil: Timestamp, visible: Boolean, version: Int, minorVersion: Int,
    geometryChanged: Boolean)

/** Per-element OSM history kernels. Each call gets every raw version of one
  * element plus the rows routed to it, and returns its rows. `now` closes
  * open validity windows. `Osm.toGeometry`'s keyed passes call them once
  * per key, converting Spark's internal rows to and from these case classes
  * by hand (`vps.osm.OsmPasses`), so no encoder code is generated for them.
  *
  * Deleted-version resurrection reads the raw version before, as a SQL `lag`
  * over the versions would: a deleted version takes that version's geometry
  * payload (none for a deleted first version) and its tags unless they are
  * null. Each version is valid until the next version's time.
  *
  * Minor versions: every version starts an event, and so does every
  * geometry change of a referenced node (member way) inside a version's
  * validity window. Events of one changeset merge into one row carrying the
  * latest version and time; rows are ordered by time, each valid until the
  * next, numbered from 0 within their version.
  */
object OsmTimelines {
  val MultiPolygonRoles: Seq[String] = Seq("", "outer", "inner")
  private implicit val timeOrder: Ordering[Timestamp] = Ordering.fromLessThan(_ before _)

  private final case class Event(changeset: Long, version: Long, updated: Timestamp)
  /** What an empty member list, or a null member, stands for: no way, no role. */
  private val NoMember = Member(0, 0L, null)

  /** A version after resurrection: the raw version, the one its payload
    * (`from`, null if none) and its tags (`tagged`) come from, and the end of
    * its validity.
    */
  private final case class Live[V <: RawVersion](raw: V, from: V, tagged: V, validUntil: Timestamp)

  private def resurrect[V <: RawVersion](versions: Iterator[V]): Vector[Live[V]] = {
    val vs = versions.toVector.sortBy(_.version)
    vs.indices.map { i =>
      val (v, previous) = (vs(i), if (i == 0) null.asInstanceOf[V] else vs(i - 1))
      val deleted = !v.visible
      Live(v, if (deleted) previous else v, if (deleted && previous != null && previous.tags != null) previous else v,
        if (i + 1 < vs.length) vs(i + 1).timestamp else null)
    }.toVector
  }

  /** Each routed key's earliest `since`. */
  private def earliest[R](rows: Iterator[R])(key: R => Long, since: R => Timestamp): Map[Long, Timestamp] =
    rows.toVector.groupBy(key).map { case (k, rs) => k -> rs.map(since).min }

  /** `from <= t < until`, an open `until` being `now`. */
  private def within(t: Timestamp, from: Timestamp, until: Timestamp, now: Timestamp): Boolean =
    !t.before(from) && t.before(if (until == null) now else until)

  /** Whether a row valid until `until` is still live at `since`. */
  private def liveAt(until: Timestamp, since: Timestamp): Boolean = until == null || !until.before(since)

  private def timeline(events: Iterator[Event]): Vector[Event] =
    events.toVector.groupBy(_.changeset).iterator
      .map { case (cs, es) => Event(cs, es.map(_.version).max, es.map(_.updated).max) }
      .toVector.sortBy(e => (e.updated, e.version, e.changeset))

  /** Row number within each version, in timeline order. */
  private def minorVersions(events: Vector[Event]): Vector[Int] = {
    val seen = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    events.map { e => val n = seen(e.version); seen(e.version) = n + 1; n }
  }

  private def validUntil(events: Vector[Event], i: Int): Timestamp =
    if (i + 1 < events.length) events(i + 1).updated else null

  /** SQL equality of two doubles: NaN equals NaN. */
  private def same(a: Double, b: Double): Boolean = (a.isNaN && b.isNaN) || a == b

  /** A node's pass: its point rows and its geometry-changing versions routed
    * to the ways that reference it.
    *
    * Point rows exist for interesting versions, one per changeset: its last
    * version, updated at the changeset's last time. A version changes the
    * geometry when its raw coordinates differ from the raw version before
    * (the first always does); it is valid until the next such version. A way
    * gets the changes live at or made after its first version listing the node.
    */
  def node(versions: Iterator[NodeVersion], ways: Iterator[WayRef]): Iterator[NodeRow] = {
    val vs = resurrect(versions)
    val since = earliest(ways)(_.way, _.since)
    val points = vs.filter(_.tagged.interesting).groupBy(_.raw.changeset).valuesIterator.map { ls =>
      val l = ls.maxBy(_.raw.version)
      val geom = if (l.from == null) null else Wkb.write(Geo.point(l.from.lon, l.from.lat))
      val v = l.raw
      NodeRow(v.id, ElementRow(v.id, geom, l.tagged.tags, v.changeset, ls.map(_.raw.timestamp).max, l.validUntil,
        v.visible, v.version.toInt, 0, geometryChanged = false), null)
    }
    val changes = vs.indices.filter { i =>
      i == 0 || !(same(vs(i - 1).raw.lat, vs(i).raw.lat) && same(vs(i - 1).raw.lon, vs(i).raw.lon))
    }.map(vs)
    val routed = changes.indices.iterator.flatMap { i =>
      val (l, v) = (changes(i), changes(i).raw)
      val until = if (i + 1 < changes.length) changes(i + 1).raw.timestamp else null
      val (lat, lon) = if (l.from == null) (Double.NaN, Double.NaN) else (l.from.lat, l.from.lon)
      since.iterator.collect { case (way, from) if liveAt(until, from) || !v.timestamp.before(from) =>
        NodeRow(way, null, WayNode(way, v.id, v.changeset, v.timestamp, until, lat, lon))
      }
    }
    points ++ routed
  }

  /** A way's versioned geometries. An event whose way references no node
    * version live at its time yields no row.
    */
  def way(versions: Iterator[WayVersion], nodes: Iterator[WayNode], now: Timestamp): Iterator[ElementRow] = {
    val vs = resurrect(versions)
    val byRef = nodes.toArray.groupBy(_.ref).map { case (r, ns) => r -> ns.sortBy(_.timestamp) }
    def refs(l: Live[WayVersion]): Seq[Long] = if (l.from == null || l.from.nds == null) Nil else l.from.nds
    val triggers = vs.iterator.flatMap { l =>
      val v = l.raw
      Iterator(Event(v.changeset, v.version, v.timestamp)) ++
        refs(l).distinct.iterator.flatMap(r => byRef.getOrElse(r, Array.empty[WayNode]))
          .filter(n => within(n.timestamp, v.timestamp, l.validUntil, now))
          .map(n => Event(n.changeset, v.version, n.timestamp))
    }
    val byVersion = vs.map(l => l.raw.version -> l).toMap
    val assembled = timeline(triggers).flatMap { e =>
      val l = byVersion(e.version)
      val coords = refs(l).flatMap(r => byRef.getOrElse(r, Array.empty[WayNode])
        .filter(n => within(e.updated, n.timestamp, n.validUntil, now)).map(n => (n.lon, n.lat)))
      if (coords.isEmpty) None else Some((e, l, WayAssembly.assemble(coords, l.tagged.isArea)))
    }
    val events = assembled.map(_._1)
    val minors = minorVersions(events)
    val wkb = assembled.map(a => if (a._3 == null) null else Wkb.write(a._3))
    assembled.indices.iterator.map { i =>
      val (e, l, _) = assembled(i)
      val previous = if (i == 0) null else wkb(i - 1)
      ElementRow(l.raw.id, wkb(i), l.tagged.tags, e.changeset, e.updated, validUntil(events, i), l.raw.visible,
        e.version.toInt, minors(i), !java.util.Arrays.equals(previous, wkb(i)))
    }
  }

  /** Whether a way row goes to the output: ways without tags serve only as members. */
  def tagged(row: ElementRow): Boolean = row.tags != null && row.tags.nonEmpty

  /** A way's rows routed to the relations that list it: each relation gets
    * the rows live at or after its first version listing the way.
    */
  def memberWays(rows: Iterator[ElementRow], relations: Iterator[RelationRef]): Iterator[MemberWay] = {
    val ws = rows.toVector
    earliest(relations)(_.relation, _.since).iterator.flatMap { case (relation, from) =>
      ws.iterator.filter(w => liveAt(w.validUntil, from)).map(w =>
        MemberWay(relation, w.id, w.changeset, w.updated, w.validUntil, w.geom, w.geometryChanged))
    }
  }

  /** A relation's multipolygon and route geometries, one timeline each over
    * the versions tagged as such. Members are distinct, in relation order,
    * each with the member way geometry live at the row's time; a way member
    * whose way has timeline rows but none live then is left out.
    */
  def relation(versions: Iterator[RelationVersion], ways: Iterator[MemberWay], now: Timestamp): Iterator[ElementRow] = {
    val vs = resurrect(versions)
    val byWay = ways.toArray.groupBy(_.wayId).map { case (w, rows) =>
      w -> rows.sortBy(_.updated).map(r => (r, if (r.geom == null) null else Wkb.read(r.geom)))
    }
    def members(l: Live[RelationVersion]): Seq[Member] =
      Option(l.from).flatMap(v => Option(v.members)).filter(_.nonEmpty)
        .fold(Seq(NoMember))(_.map(m => if (m == null) NoMember else m)).distinct
    def wayRefs(l: Live[RelationVersion]): Seq[Long] =
      members(l).filter(_.`type` == RelationAssembly.WayType).map(_.ref)

    def rows(keep: RelationVersion => Boolean)(
        assemble: (Live[RelationVersion], Seq[(Member, Geometry)]) => Seq[(Map[String, String], Geometry)]) = {
      val branch = vs.filter(l => keep(l.tagged))
      val events = timeline(branch.iterator.flatMap { l =>
        val v = l.raw
        Iterator(Event(v.changeset, v.version, v.timestamp)) ++
          wayRefs(l).iterator.flatMap(r => byWay.getOrElse(r, Array.empty[(MemberWay, Geometry)])).map(_._1)
            .filter(w => w.geometryChanged && within(w.updated, v.timestamp, l.validUntil, now))
            .map(w => Event(w.changeset, v.version, w.updated))
      })
      val byVersion = branch.map(l => l.raw.version -> l).toMap
      val minors = minorVersions(events)
      events.indices.flatMap { i =>
        val e = events(i)
        val l = byVersion(e.version)
        val live = members(l).flatMap {
          case m if m.`type` == RelationAssembly.WayType && byWay.contains(m.ref) =>
            byWay(m.ref).filter(w => within(e.updated, w._1.updated, w._1.validUntil, now)).map(w => m -> w._2)
          case m => Seq(m -> (null: Geometry))
        }
        assemble(l, live).map { case (tags, geom) =>
          ElementRow(l.raw.id, if (geom == null) null else Wkb.write(geom), tags, e.changeset, e.updated,
            validUntil(events, i), l.raw.visible, e.version.toInt, minors(i), geometryChanged = false)
        }
      }
    }
    def types(ms: Seq[(Member, Geometry)]) = ms.map(_._1.`type`)
    def roles(ms: Seq[(Member, Geometry)]) = ms.map(_._1.role)

    val multiPolygons = rows(_.isMultiPolygon) { (l, all) =>
      val ms = all.filter(m => MultiPolygonRoles.contains(m._1.role))
      if (ms.isEmpty) Nil
      else Seq(l.tagged.tags -> RelationAssembly.buildMultiPolygon(types(ms), roles(ms), ms.map(_._2)).orNull)
    }
    val routes = rows(_.isRoute) { (l, ms) =>
      RelationAssembly.buildRoute(types(ms), roles(ms), ms.map(_._2)) match {
        case Some(parts) => parts.map { case (role, geom) => mergeRole(l.tagged.tags, role) -> geom }
        case None        => Seq(l.tagged.tags -> (null: Geometry))
      }
    }
    (multiPolygons ++ routes).iterator
  }

  /** A route part's role joins the relation's tags, `;`-appended to a differing `role` tag. */
  private def mergeRole(tags: Map[String, String], role: String): Map[String, String] =
    if (tags == null || role == "") tags
    else tags.updated("role", tags.get("role").fold(role)(a => if (role == null || a == role) a else s"$a;$role"))
}

package vps.kernels

import java.sql.Timestamp

import org.locationtech.jts.geom.Geometry
import vps.geom.Wkb

/** One way version, after deleted-version resurrection. */
final case class WayVersion(id: Long, version: Long, changeset: Long, timestamp: Timestamp,
    validUntil: Timestamp, tags: Map[String, String], nds: Seq[Long], visible: Boolean, isArea: Boolean)

/** A geometry-changing version of node `ref`, routed to the way `id` that references it. */
final case class WayNode(id: Long, ref: Long, changeset: Long, timestamp: Timestamp,
    validUntil: Timestamp, lat: Double, lon: Double)

final case class Member(`type`: Byte, ref: Long, role: String)

/** One relation version; the flags come from its tags. */
final case class RelationVersion(id: Long, version: Long, changeset: Long, timestamp: Timestamp,
    validUntil: Timestamp, tags: Map[String, String], members: Seq[Member], visible: Boolean,
    isMultiPolygon: Boolean, isRoute: Boolean)

/** One row of member way `wayId`'s geometry timeline, routed to the relation `id`. */
final case class MemberWay(id: Long, wayId: Long, changeset: Long, updated: Timestamp,
    validUntil: Timestamp, geom: Geometry, geometryChanged: Boolean)

/** One reconstructed (minor) version of a way or relation. */
final case class ElementRow(id: Long, geom: Geometry, tags: Map[String, String], changeset: Long,
    updated: Timestamp, validUntil: Timestamp, visible: Boolean, version: Int, minorVersion: Int,
    geometryChanged: Boolean)

/** Per-element OSM history kernels: one call gets every version of one way
  * (or relation) plus the rows routed to it, and returns its versioned
  * geometries. `now` closes open validity windows.
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

  /** `from <= t < until`, an open `until` being `now`. */
  private def within(t: Timestamp, from: Timestamp, until: Timestamp, now: Timestamp): Boolean =
    !t.before(from) && t.before(if (until == null) now else until)

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

  /** A way's versioned geometries. An event whose way references no node
    * version live at its time yields no row.
    */
  def way(versions: Iterator[WayVersion], nodes: Iterator[WayNode], now: Timestamp): Iterator[ElementRow] = {
    val vs = versions.toArray.sortBy(_.version)
    val byRef = nodes.toArray.groupBy(_.ref).map { case (r, ns) => r -> ns.sortBy(_.timestamp) }
    def refs(v: WayVersion): Seq[Long] = if (v.nds == null) Nil else v.nds
    val raw = vs.iterator.flatMap { v =>
      Iterator(Event(v.changeset, v.version, v.timestamp)) ++
        refs(v).distinct.iterator.flatMap(r => byRef.getOrElse(r, Array.empty[WayNode]))
          .filter(n => within(n.timestamp, v.timestamp, v.validUntil, now))
          .map(n => Event(n.changeset, v.version, n.timestamp))
    }
    val byVersion = vs.map(v => v.version -> v).toMap
    val assembled = timeline(raw).flatMap { e =>
      val v = byVersion(e.version)
      val coords = refs(v).flatMap(r => byRef.getOrElse(r, Array.empty[WayNode])
        .filter(n => within(e.updated, n.timestamp, n.validUntil, now)).map(n => (n.lon, n.lat)))
      if (coords.isEmpty) None else Some((e, v, WayAssembly.assemble(coords, v.isArea)))
    }
    val events = assembled.map(_._1)
    val minors = minorVersions(events)
    val wkb = assembled.map(a => if (a._3 == null) null else Wkb.write(a._3))
    assembled.indices.iterator.map { i =>
      val (e, v, geom) = assembled(i)
      val previous = if (i == 0) null else wkb(i - 1)
      ElementRow(v.id, geom, v.tags, e.changeset, e.updated, validUntil(events, i), v.visible,
        e.version.toInt, minors(i), !java.util.Arrays.equals(previous, wkb(i)))
    }
  }

  /** A relation's multipolygon and route geometries, one timeline each over
    * the versions tagged as such. Members are distinct, in relation order,
    * each with the member way geometry live at the row's time; a way member
    * whose way has timeline rows but none live then is left out.
    */
  def relation(versions: Iterator[RelationVersion], ways: Iterator[MemberWay], now: Timestamp): Iterator[ElementRow] = {
    val vs = versions.toArray.sortBy(_.version)
    val byWay = ways.toArray.groupBy(_.wayId).map { case (w, rows) => w -> rows.sortBy(_.updated) }
    def members(v: RelationVersion): Seq[Member] =
      Option(v.members).filter(_.nonEmpty).fold(Seq(NoMember))(_.map(m => if (m == null) NoMember else m)).distinct
    def wayRefs(v: RelationVersion): Seq[Long] = members(v).filter(_.`type` == RelationAssembly.WayType).map(_.ref)

    def rows(keep: RelationVersion => Boolean)(
        assemble: (RelationVersion, Seq[(Member, Geometry)]) => Seq[(Map[String, String], Geometry)]) = {
      val branch = vs.filter(keep)
      val events = timeline(branch.iterator.flatMap { v =>
        Iterator(Event(v.changeset, v.version, v.timestamp)) ++
          wayRefs(v).iterator.flatMap(r => byWay.getOrElse(r, Array.empty[MemberWay]))
            .filter(w => w.geometryChanged && within(w.updated, v.timestamp, v.validUntil, now))
            .map(w => Event(w.changeset, v.version, w.updated))
      })
      val byVersion = branch.map(v => v.version -> v).toMap
      val minors = minorVersions(events)
      events.indices.flatMap { i =>
        val e = events(i)
        val v = byVersion(e.version)
        val live = members(v).flatMap {
          case m if m.`type` == RelationAssembly.WayType && byWay.contains(m.ref) =>
            byWay(m.ref).filter(w => within(e.updated, w.updated, w.validUntil, now)).map(w => m -> w.geom)
          case m => Seq(m -> (null: Geometry))
        }
        assemble(v, live).map { case (tags, geom) =>
          ElementRow(v.id, geom, tags, e.changeset, e.updated, validUntil(events, i), v.visible,
            e.version.toInt, minors(i), geometryChanged = false)
        }
      }
    }
    def types(ms: Seq[(Member, Geometry)]) = ms.map(_._1.`type`)
    def roles(ms: Seq[(Member, Geometry)]) = ms.map(_._1.role)

    val multiPolygons = rows(_.isMultiPolygon) { (v, all) =>
      val ms = all.filter(m => MultiPolygonRoles.contains(m._1.role))
      if (ms.isEmpty) Nil
      else Seq(v.tags -> RelationAssembly.buildMultiPolygon(types(ms), roles(ms), ms.map(_._2)).orNull)
    }
    val routes = rows(_.isRoute) { (v, ms) =>
      RelationAssembly.buildRoute(types(ms), roles(ms), ms.map(_._2)) match {
        case Some(parts) => parts.map { case (role, geom) => mergeRole(v.tags, role) -> geom }
        case None        => Seq(v.tags -> (null: Geometry))
      }
    }
    (multiPolygons ++ routes).iterator
  }

  /** A route part's role joins the relation's tags, `;`-appended to a differing `role` tag. */
  private def mergeRole(tags: Map[String, String], role: String): Map[String, String] =
    if (tags == null || role == "") tags
    else tags.updated("role", tags.get("role").fold(role)(a => if (role == null || a == role) a else s"$a;$role"))
}

package vps.osm

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import vps.kernels.{ElementRow, Member, MemberWay, NodeVersion, OsmTimelines, RelationRef, RelationVersion, WayNode,
  WayRef, WayVersion}
import vps.sql.GroupKernel

/** The three keyed passes of `Osm.toGeometry` as [[GroupKernel]]s over the
  * [[OsmTimelines]] kernels, and the rows they read and write.
  *
  * Each pass reads one frame keyed by `id` (column 0) with one struct column
  * per kind of row, null but for the row's own, and writes the next pass's
  * frame: the node pass writes the way pass's, the way pass the relation
  * pass's. An output row ([[ElementStruct]]) made by an earlier pass rides
  * through the later ones unchanged, so every pass has one consumer and runs
  * once.
  * The struct fields are read by position, in the order the `toGeometry`
  * selects them (noted on each kind).
  */
private[osm] object OsmPasses {
  /** One output row, its geometry as WKB; only `_type` is never null. */
  val ElementStruct: StructType = StructType(Seq(StructField("_type", ByteType, nullable = false)) ++
    Seq("id" -> LongType, "geom" -> BinaryType, "tags" -> MapType(StringType, StringType),
      "changeset" -> LongType, "updated" -> TimestampType, "validUntil" -> TimestampType,
      "visible" -> BooleanType, "version" -> IntegerType, "minorVersion" -> IntegerType)
      .map { case (n, t) => StructField(n, t) })
  /** A node version routed to a way ([[WayNode]] without its key). */
  val ChangeStruct: StructType = fields("ref" -> LongType, "changeset" -> LongType, "timestamp" -> TimestampType,
    "validUntil" -> TimestampType, "lat" -> DoubleType, "lon" -> DoubleType)
  /** A member way's row routed to a relation ([[MemberWay]] without its key). */
  val MemberStruct: StructType = fields("wayId" -> LongType, "changeset" -> LongType, "updated" -> TimestampType,
    "validUntil" -> TimestampType, "geom" -> BinaryType, "geometryChanged" -> BooleanType)

  private def fields(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })

  /** The node pass: node versions (`node`: version, changeset, timestamp,
    * tags, lat, lon, visible, interesting) and way refs (`wayRef`: way,
    * since) keyed by node id. It writes points as elements and the node's
    * geometry changes keyed by way id.
    */
  case object NodePass extends GroupKernel {
    def apply(group: IndexedSeq[InternalRow]): Iterator[InternalRow] = {
      val versions = kind(group, 1, 8).map { case (id, n) => NodeVersion(id, n.getLong(0), n.getLong(1), time(n, 2),
        tags(n, 3), n.getDouble(4), n.getDouble(5), n.getBoolean(6), n.getBoolean(7)) }
      val ways = kind(group, 2, 2).map { case (id, w) => WayRef(id, w.getLong(0), time(w, 1)) }
      OsmTimelines.node(versions, ways).map { n =>
        if (n.point != null) InternalRow(n.id, element(Osm.NodeType, n.point), null, null, null)
        else InternalRow(n.id, null, change(n.change), null, null)
      }
    }
  }

  /** The way pass: elements passing through, geometry changes (`change`),
    * way versions (`way`: version, changeset, timestamp, tags, nds, visible,
    * isArea) and relation refs (`relationRef`: relation, since) keyed by way
    * id. It writes the tagged way rows as elements and every way row routed
    * to the relations that list the way, keyed by relation id.
    */
  final case class WayPass(now: Timestamp) extends GroupKernel {
    def apply(group: IndexedSeq[InternalRow]): Iterator[InternalRow] = {
      val changes = kind(group, 2, ChangeStruct.length).map { case (id, c) =>
        WayNode(id, c.getLong(0), c.getLong(1), time(c, 2), time(c, 3), c.getDouble(4), c.getDouble(5)) }
      val versions = kind(group, 3, 7).map { case (id, w) => WayVersion(id, w.getLong(0), w.getLong(1), time(w, 2),
        tags(w, 3), if (w.isNullAt(4)) null else w.getArray(4).toLongArray().toSeq, w.getBoolean(5), w.getBoolean(6)) }
      val relations = kind(group, 4, 2).map { case (id, r) => RelationRef(id, r.getLong(0), time(r, 1)) }
      val rows = OsmTimelines.way(versions, changes, now).toVector
      val passed = group.iterator.filter(!_.isNullAt(1))
        .map(e => InternalRow(e.getLong(0), e.getStruct(1, ElementStruct.length), null, null))
      passed ++
        rows.iterator.filter(OsmTimelines.tagged).map(w => InternalRow(w.id, element(Osm.WayType, w), null, null)) ++
        OsmTimelines.memberWays(rows.iterator, relations).map(m => InternalRow(m.id, null, member(m), null))
    }
  }

  /** The relation pass: elements passing through, member way rows
    * (`member`) and relation versions (`relation`: version, changeset,
    * timestamp, tags, members, visible, isMultiPolygon, isRoute) keyed by
    * relation id. It writes every element flat.
    */
  final case class RelationPass(now: Timestamp) extends GroupKernel {
    def apply(group: IndexedSeq[InternalRow]): Iterator[InternalRow] = {
      val members = kind(group, 2, MemberStruct.length).map { case (id, m) =>
        MemberWay(id, m.getLong(0), m.getLong(1), time(m, 2), time(m, 3), bytes(m, 4), m.getBoolean(5)) }
      val versions = kind(group, 3, 8).map { case (id, r) => RelationVersion(id, r.getLong(0), r.getLong(1),
        time(r, 2), tags(r, 3), if (r.isNullAt(4)) null else memberList(r.getArray(4)), r.getBoolean(5),
        r.getBoolean(6), r.getBoolean(7)) }
      group.iterator.filter(!_.isNullAt(1)).map(_.getStruct(1, ElementStruct.length)) ++
        OsmTimelines.relation(versions, members, now).map(element(Osm.RelationType, _))
    }
  }

  /** The key and the struct at `ordinal` of the rows of one kind. */
  private def kind(group: IndexedSeq[InternalRow], ordinal: Int, width: Int): Iterator[(Long, InternalRow)] =
    group.iterator.filter(!_.isNullAt(ordinal)).map(r => (r.getLong(0), r.getStruct(ordinal, width)))

  private def time(r: InternalRow, i: Int): Timestamp =
    if (r.isNullAt(i)) null else DateTimeUtils.toJavaTimestamp(r.getLong(i))
  private def micros(t: Timestamp): Any = if (t == null) null else DateTimeUtils.fromJavaTimestamp(t)
  private def bytes(r: InternalRow, i: Int): Array[Byte] = if (r.isNullAt(i)) null else r.getBinary(i)
  private def string(r: InternalRow, i: Int): String = if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** A tag map in its stored entry order (the order a Dataset encoder reads it in). */
  private def tags(r: InternalRow, i: Int): Map[String, String] = if (r.isNullAt(i)) null else {
    val (m, b) = (r.getMap(i), Map.newBuilder[String, String])
    val (ks, vs) = (m.keyArray(), m.valueArray())
    for (j <- 0 until m.numElements())
      b += ks.getUTF8String(j).toString -> (if (vs.isNullAt(j)) null else vs.getUTF8String(j).toString)
    b.result()
  }
  private def tagData(tags: Map[String, String]): MapData = if (tags == null) null else
    new ArrayBasedMapData(new GenericArrayData(tags.keysIterator.map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(tags.valuesIterator.map(UTF8String.fromString).toArray[Any]))

  private def memberList(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Member] =
    (0 until a.numElements()).map { j =>
      if (a.isNullAt(j)) null else { val m = a.getStruct(j, 3); Member(m.getByte(0), m.getLong(1), string(m, 2)) }
    }

  private def element(elementType: Byte, e: ElementRow): InternalRow = InternalRow(elementType, e.id, e.geom,
    tagData(e.tags), e.changeset, micros(e.updated), micros(e.validUntil), e.visible, e.version, e.minorVersion)
  private def change(n: WayNode): InternalRow =
    InternalRow(n.ref, n.changeset, micros(n.timestamp), micros(n.validUntil), n.lat, n.lon)
  private def member(m: MemberWay): InternalRow =
    InternalRow(m.wayId, m.changeset, micros(m.updated), micros(m.validUntil), m.geom, m.geometryChanged)
}

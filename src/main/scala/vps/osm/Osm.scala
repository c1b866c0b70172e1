package vps.osm

import java.sql.Timestamp
import java.time.{LocalDate, ZoneId}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, ObjectType, StructField, StructType}
import org.apache.spark.sql.vps.ColumnBridge

import vps.kernels.OsmTimelines
import vps.osm.OsmPasses._
import vps.sql.{FunctionTable, SortedGroups}
import vps.sql.TagFunctions._
import vps.sql.functions.st_geomFromWKB

/** Full OSM history -> geometry reconstruction — the reference's core API
  * (`OSM.scala:22-43`, `internal/package.scala`) rebuilt on our kernels:
  *
  * - temporal resurrect + validity windows per element type (W1/W2)
  * - point geometries for interesting nodes (§3.1)
  * - ways (K1, W3) and relations (K5 multipolygons, K6 routes): one keyed
  *   pass per element ([[OsmTimelines]]) builds all its versions and minor
  *   versions from the rows routed to it
  *
  * "Now", which closes open validity windows, is read when the DataFrame is
  * built, not when an action runs it.
  *
  * Output schema (the "middle ground", SURVEY.md §1.3):
  * `_type, id, geom, tags, changeset, updated, validUntil, visible, version, minorVersion`.
  */
object Osm {
  val NodeType: Byte = 1
  val WayType: Byte = 2
  val RelationType: Byte = 3

  private def asDouble(c: Column) =
    when(c.isNotNull, c.cast("double")).otherwise(lit(Double.NaN))

  /** Normalize `members.type` to byte codes whichever input schema arrived
    * (reference `ensureCompressedMembers`): `node` 1, `way` 2, anything else
    * 3, as a kernel row over the member array ([[OsmMembers.compress]]).
    */
  def ensureCompressedMembers(input: DataFrame): DataFrame = {
    val memberType = input.schema("members").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    if (memberType("type").dataType == org.apache.spark.sql.types.ByteType) input
    else input.withColumn("members", FunctionTable.call("compress_members", col("members")))
  }

  private def currentTime() = new Timestamp(System.currentTimeMillis())

  /** `c` as a pass key, named `id`. A null id or ref groups under
    * `Long.MinValue`, which no element has.
    */
  private def key(c: Column): Column = coalesce(c, lit(Long.MinValue)).as("id")

  /** The rows of one kind of a pass's frame: `id` and the struct `kind` of `fields`. */
  private def side(df: DataFrame, kind: String, fields: Column*): DataFrame =
    df.select(col("id"), struct(fields: _*).as(kind))

  /** `sides` as one frame laid out as `layout`: each side's missing columns are null. */
  private def frame(layout: StructType, sides: DataFrame*): DataFrame = sides.map(s => s.select(layout.map(f =>
    if (s.columns.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)): _*)).reduce(_ union _)

  /** The reference's `OSM.toGeometry`: full history -> versioned geometries.
    *
    * Three keyed passes ([[SortedGroups]] over the [[OsmTimelines]]
    * kernels), each over one frame shuffled once by `id`: nodes with the way
    * refs that list them, ways with the node changes and relation refs
    * routed to them, relations with their member way rows. The way refs
    * (node refs per way) and relation refs (way members per relation) come
    * straight from the raw versions. Each pass writes the next pass's frame,
    * and an output row made by the node or way pass rides through the later
    * passes unchanged, so every kernel runs once and no pass's output is read
    * twice.
    */
  def toGeometry(input: DataFrame): DataFrame = {
    vps.geom.Geo.registerUDTs()
    val now = currentTime()
    val elements = input.withColumn("tags", removeUninterestingTags(col("tags")))
    def versions(elementType: String) = elements.where(col("type") === elementType).withColumn("id", key(col("id")))
    val nodes = side(versions("node"), "node", col("version"), col("changeset"), col("timestamp"), col("tags"),
      asDouble(col("lat")).as("lat"), asDouble(col("lon")).as("lon"), col("visible"),
      coalesce(size(removeSemiInterestingTags(col("tags"))) > 0, lit(false)).as("interesting"))
    val ways = versions("way")
    val wayVersions = side(ways, "way", col("version"), col("changeset"), col("timestamp"), col("tags"),
      col("nds.ref").as("nds"), col("visible"), coalesce(isArea(col("tags")), lit(false)).as("isArea"))
    // the `type` tag survives removeUninterestingTags, so the relation flags read the input's tags
    val relations = ensureCompressedMembers(input.where(col("type") === "relation")).select(
      key(col("id")), col("version"), col("changeset"), col("timestamp"),
      removeUninterestingTags(col("tags")).as("tags"), col("members"), col("visible"),
      coalesce(isMultiPolygon(col("tags")), lit(false)).as("isMultiPolygon"),
      coalesce(isRoute(col("tags")), lit(false)).as("isRoute"))
    val relationVersions = side(relations, "relation", relations.columns.tail.map(col): _*)

    val wayRefs = ways.select(explode(col("nds.ref")).as("ref"), col("id").as("way"), col("timestamp").as("since"))
      .select(key(col("ref")), struct(col("way"), col("since")).as("wayRef"))
    // a deleted version takes its members from the version before, so it keeps its refs
    val relationRefs = relations.where(!col("visible") || col("isMultiPolygon") || col("isRoute")).select(
      explode(FunctionTable.call("way_member_refs", col("members"))).as("ref"),
      col("id").as("relation"), col("timestamp").as("since"))
      .select(key(col("ref")), struct(col("relation"), col("since")).as("relationRef"))

    def layout(columns: (String, DataType)*) =
      StructType((("id" -> LongType) +: columns).map { case (n, t) => StructField(n, t, nullable = n != "id") })
    def typeOf(df: DataFrame) = df.schema.last.name -> df.schema.last.dataType
    val nodeFrame = layout(typeOf(nodes), typeOf(wayRefs))
    val wayFrame =
      layout("element" -> ElementStruct, "change" -> ChangeStruct, typeOf(wayVersions), typeOf(relationRefs))
    val relationFrame = layout("element" -> ElementStruct, "member" -> MemberStruct, typeOf(relationVersions))

    val nodeRows = SortedGroups(frame(nodeFrame, nodes, wayRefs), Seq("id"), wayFrame, NodePass)
    val wayRows = SortedGroups(frame(wayFrame, nodeRows, wayVersions, relationRefs), Seq("id"), relationFrame,
      WayPass(now))
    val rows = SortedGroups(frame(relationFrame, wayRows, relationVersions), Seq("id"), ElementStruct,
      RelationPass(now))
    rows.select(ElementStruct.map(f =>
      if (f.name == "geom") st_geomFromWKB(col("geom")).as("geom") else col(f.name)): _*)
  }

  /** Time-pin snapshot over the validity interval (reference `OSM.snapshot`):
    * rows updated at or before `timestamp` and valid after it. An open
    * validity window ends at the start of tomorrow in the session time zone.
    *
    * The as-of time (`timestamp`, or now) and tomorrow are read when the
    * DataFrame is built, not when an action runs it. Both reach the plan as
    * one object literal, so the generated code is the same from call to call.
    */
  def snapshot(df: DataFrame, timestamp: Timestamp = null): DataFrame = {
    val zone = ZoneId.of(df.sparkSession.conf.get("spark.sql.session.timeZone"))
    val tomorrow = LocalDate.now(zone).plusDays(1).atStartOfDay(zone).toInstant
    val at = SnapshotTime(DateTimeUtils.fromJavaTimestamp(Option(timestamp).getOrElse(currentTime())),
      DateTimeUtils.instantToMicros(tomorrow))
    // a null argument makes the kernel's result null, so an open window comes as Long.MaxValue
    val validUntil = coalesce(unix_micros(col("validUntil")), lit(Long.MaxValue))
    df.where(ColumnBridge.column(Invoke(Literal(at, ObjectType(classOf[SnapshotTime])), "live", BooleanType,
      Seq(col("updated"), validUntil).map(ColumnBridge.expression))))
  }

  /** Join user metadata from a changesets table (reference `addUserMetadata`). */
  def addUserMetadata(geoms: DataFrame, changesets: DataFrame): DataFrame =
    geoms.join(changesets.select(col("id").as("changeset"), col("uid"), col("user")), Seq("changeset"))
}

/** A snapshot's as-of time and the end of open validity windows, in microseconds. */
final case class SnapshotTime(asOf: Long, openUntil: Long) {
  /** Whether a row updated at `updated` and valid until `validUntil`
    * (`Long.MaxValue` if open) is live at `asOf`.
    */
  def live(updated: Long, validUntil: Long): Boolean =
    updated <= asOf && asOf < (if (validUntil == Long.MaxValue) openUntil else validUntil)
}

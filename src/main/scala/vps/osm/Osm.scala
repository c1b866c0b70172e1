package vps.osm

import java.sql.Timestamp
import java.time.{LocalDate, ZoneId}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ObjectType}
import org.apache.spark.sql.vps.ColumnBridge

import vps.kernels.{ElementRow, MemberWay, NodeRow, NodeVersion, OsmTimelines, RelationRef, RelationVersion, WayRef,
  WayVersion}
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
    * (reference `ensureCompressedMembers`), as a builtin `transform`.
    */
  def ensureCompressedMembers(input: DataFrame): DataFrame = {
    val memberType = input.schema("members").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    if (memberType("type").dataType == org.apache.spark.sql.types.ByteType) input
    else input.withColumn("members",
      transform(col("members"), m => struct(
        when(m.getField("type") === "node", lit(NodeType.toInt))
          .when(m.getField("type") === "way", lit(WayType.toInt))
          .otherwise(lit(RelationType.toInt)).cast("byte").as("type"),
        m.getField("ref").as("ref"),
        m.getField("role").as("role"))))
  }

  private def currentTime() = new Timestamp(System.currentTimeMillis())

  /** `c` as a cogroup key, named `id`. The two sides of a cogroup must agree on
    * its nullability, so a key is never null: a null id or ref groups under
    * `Long.MinValue`, which no element has.
    */
  private def key(c: Column): Column = coalesce(c, lit(Long.MinValue)).as("id")

  /** The output columns of a kernel's [[ElementRow]]s, the struct `prefix` (if any) holding them. */
  private def output(elementType: Byte, prefix: String = ""): Seq[Column] = {
    def c(name: String) = col(prefix + name).as(name)
    Seq(lit(elementType).as("_type"), c("id"), st_geomFromWKB(col(prefix + "geom")).as("geom"), c("tags"),
      c("changeset"), c("updated"), c("validUntil"), c("visible"), c("version"), c("minorVersion"))
  }

  /** The reference's `OSM.toGeometry`: full history -> versioned geometries.
    *
    * Each element type's history goes through one keyed kernel pass
    * ([[OsmTimelines]]). The way refs (node refs per way) and the relation
    * refs (way members per relation) come straight from the raw versions and
    * route each node's changes to its ways and each way's rows to its
    * relations. The node pass and the way pass each feed two consumers behind
    * one exchange, the second reading it as a reused exchange: the points and
    * the ways for nodes, the output and the relation routing for ways. The
    * output side reads that exchange through a typed filter, which reads the
    * same columns as the other consumer and keeps later filters above it.
    */
  def toGeometry(input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    vps.geom.Geo.registerUDTs()
    val now = currentTime()
    val elements = input.withColumn("tags", removeUninterestingTags(col("tags")))
    def versions(elementType: String, payload: Column*) = elements.where(col("type") === elementType)
      .select(Seq(key(col("id")), col("version"), col("changeset"), col("timestamp"), col("tags")) ++ payload: _*)
    val nodes = versions("node", asDouble(col("lat")).as("lat"), asDouble(col("lon")).as("lon"), col("visible"),
      coalesce(size(removeSemiInterestingTags(col("tags"))) > 0, lit(false)).as("interesting"))
    val ways = versions("way", col("nds.ref").as("nds"), col("visible"),
      coalesce(isArea(col("tags")), lit(false)).as("isArea"))
    // the `type` tag survives removeUninterestingTags, so the relation flags read the input's tags
    val relations = ensureCompressedMembers(input.where(col("type") === "relation")).select(
      key(col("id")), col("version"), col("changeset"), col("timestamp"),
      removeUninterestingTags(col("tags")).as("tags"), col("members"), col("visible"),
      coalesce(isMultiPolygon(col("tags")), lit(false)).as("isMultiPolygon"),
      coalesce(isRoute(col("tags")), lit(false)).as("isRoute"))

    val wayRefs = ways.select(explode(col("nds")).as("ref"), col("id").as("way"), col("timestamp").as("since"))
      .select(key(col("ref")), col("way"), col("since"))
    // a deleted version takes its members from the version before, so it keeps its refs
    val relationRefs = relations.where(!col("visible") || col("isMultiPolygon") || col("isRoute")).select(
      explode(transform(filter(col("members"), m => m.getField("type") === WayType), _.getField("ref"))).as("ref"),
      col("id").as("relation"), col("timestamp").as("since"))
      .select(key(col("ref")), col("relation"), col("since"))

    val nodeRows = nodes.groupBy(col("id")).as[Long, NodeVersion]
      .cogroup(wayRefs.groupBy(col("id")).as[Long, WayRef])((_, vs, ws) => OsmTimelines.node(vs, ws))
      .repartition(col("id"))
    val wayRows = ways.groupBy(col("id")).as[Long, WayVersion]
      .cogroup(nodeRows.groupBy(col("id")).as[Long, NodeRow])((_, vs, ns) =>
        OsmTimelines.way(vs, ns.flatMap(n => Option(n.change)), now))
      .repartition(col("id"))
    val memberWays = wayRows.groupBy(col("id")).as[Long, ElementRow]
      .cogroup(relationRefs.groupBy(col("id")).as[Long, RelationRef])((_, ws, rs) => OsmTimelines.memberWays(ws, rs))
    val relationRows = relations.groupBy(col("id")).as[Long, RelationVersion]
      .cogroup(memberWays.groupBy(col("id")).as[Long, MemberWay])((_, vs, ms) => OsmTimelines.relation(vs, ms, now))

    nodeRows.filter((n: NodeRow) => n.point != null).select(output(NodeType, "point."): _*)
      .union(wayRows.filter(OsmTimelines.tagged _).select(output(WayType): _*))
      .union(relationRows.select(output(RelationType): _*))
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

package vps.osm

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import vps.kernels.{MemberWay, OsmTimelines, RelationVersion, WayNode, WayVersion}
import vps.sql.TagFunctions._
import vps.sql.functions.st_point

/** Full OSM history -> geometry reconstruction — the reference's core API
  * (`OSM.scala:22-43`, `internal/package.scala`) rebuilt on our kernels:
  *
  * - temporal resurrect + validity windows per element type (W1/W2)
  * - point geometries for interesting nodes (§3.1)
  * - ways (K1, W3) and relations (K5 multipolygons, K6 routes): one routing
  *   join of each element's distinct refs, then one keyed pass per element
  *   ([[OsmTimelines]]) builds all its versions and minor versions
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

  /** Resurrect deleted-version state + validity interval for nodes (W1/W2). */
  def preprocessNodes(history: DataFrame, extent: Option[(Double, Double, Double, Double)] = None): DataFrame = {
    val filtered = extent match {
      case Some((xmin, ymin, xmax, ymax)) =>
        history.where(col("lat") > ymin && col("lat") < ymax)
          .where(col("lon") > xmin && col("lon") < xmax)
      case None => history
    }
    if (filtered.columns.contains("validUntil")) filtered
    else {
      val w = Window.partitionBy(col("id")).orderBy(col("version"))
      filtered
        .where(col("type") === "node")
        .repartition(col("id"))
        .withColumn("lat", asDouble(col("lat")))
        .withColumn("lon", asDouble(col("lon")))
        .select(
          col("id"),
          when(!col("visible") && lag(col("tags"), 1).over(w).isNotNull, lag(col("tags"), 1).over(w))
            .otherwise(col("tags")).as("tags"),
          when(!col("visible"), lag(col("lat"), 1).over(w)).otherwise(col("lat")).as("lat"),
          when(!col("visible"), lag(col("lon"), 1).over(w)).otherwise(col("lon")).as("lon"),
          col("changeset"), col("timestamp"),
          lead(col("timestamp"), 1).over(w).as("validUntil"),
          col("uid"), col("user"), col("version"), col("visible"),
          (!(lag(col("lat"), 1).over(w) <=> col("lat") &&
            lag(col("lon"), 1).over(w) <=> col("lon"))).as("geometryChanged"))
    }
  }

  def preprocessWays(history: DataFrame): DataFrame = {
    if (history.columns.contains("validUntil")) history
    else {
      val w = Window.partitionBy(col("id")).orderBy(col("version"))
      history
        .where(col("type") === "way")
        .repartition(col("id"))
        .select(
          col("id"),
          when(!col("visible") && lag(col("tags"), 1).over(w).isNotNull, lag(col("tags"), 1).over(w))
            .otherwise(col("tags")).as("tags"),
          when(!col("visible"), lag(col("nds.ref"), 1).over(w))
            .otherwise(col("nds.ref")).as("nds"),
          col("changeset"), col("timestamp"),
          lead(col("timestamp"), 1).over(w).as("validUntil"),
          col("uid"), col("user"), col("version"), col("visible"),
          (!(lag(col("nds.ref"), 1).over(w) <=> col("nds.ref"))).as("geometryChanged"))
    }
  }

  def preprocessRelations(history: DataFrame): DataFrame = {
    if (history.columns.contains("validUntil")) history
    else {
      val w = Window.partitionBy(col("id")).orderBy(col("version"))
      ensureCompressedMembers(history.where(col("type") === "relation"))
        .repartition(col("id"))
        .select(
          col("id"),
          when(!col("visible") && lag(col("tags"), 1).over(w).isNotNull, lag(col("tags"), 1).over(w))
            .otherwise(col("tags")).as("tags"),
          when(!col("visible"), lag(col("members"), 1).over(w)).otherwise(col("members")).as("members"),
          col("changeset"), col("timestamp"),
          lead(col("timestamp"), 1).over(w).as("validUntil"),
          col("uid"), col("user"), col("version"), col("visible"))
    }
  }

  /** Interesting nodes -> Point geometries; one row per (id, changeset): its
    * last version, updated at its last time. A window over the id-partitioned
    * nodes, so no shuffle of its own.
    */
  def constructPointGeometries(nodes: DataFrame): DataFrame = {
    vps.geom.Geo.registerUDTs()
    val byChangeset = Window.partitionBy(col("id"), col("changeset"))
    preprocessNodes(nodes)
      .where(size(removeSemiInterestingTags(col("tags"))) > 0)
      .withColumn("updated", max(col("timestamp")).over(byChangeset))
      .withColumn("last", max(col("version")).over(byChangeset))
      .where(col("version") === col("last"))
      .select(
        lit(NodeType).as("_type"),
        col("id"),
        when(col("lon").isNotNull && col("lat").isNotNull, st_point(col("lon"), col("lat"))).as("geom"),
        col("tags"), col("changeset"), col("updated"), col("validUntil"),
        col("visible"), col("version").cast("int").as("version"))
  }

  private def currentTime() = new Timestamp(System.currentTimeMillis())

  /** The output columns after `_type`, as the kernels name them. */
  private val ElementColumns = Seq("id", "geom", "tags", "changeset", "updated", "validUntil", "visible",
    "version", "minorVersion").map(col)

  /** (id, since, `refColumn`): each element's distinct `refs` over all its versions
    * and its first version's time; an aggregate over id-partitioned versions, no shuffle.
    */
  private def lifetimeRefs(versions: DataFrame, refs: Column, refColumn: String): DataFrame =
    versions.groupBy(col("id"))
      .agg(min(col("timestamp")).as("since"), array_distinct(flatten(collect_list(refs))).as("refs"))
      .select(col("id"), col("since"), explode(col("refs")).as(refColumn))

  /** Way geometries, minor versions and `geometryChanged`; each way sees the
    * geometry-changing versions of its nodes valid at or after its first version.
    */
  def reconstructWayGeometries(_ways: DataFrame, _nodes: DataFrame, now: Timestamp = currentTime()): DataFrame = {
    val spark = _ways.sparkSession
    import spark.implicits._
    vps.geom.Geo.registerUDTs()
    val ways = preprocessWays(_ways).select(col("id"), col("version"), col("changeset"), col("timestamp"),
      col("validUntil"), col("tags"), col("nds"), col("visible"),
      coalesce(isArea(col("tags")), lit(false)).as("isArea"))
    val nodes = preprocessNodes(_nodes).where(col("geometryChanged")).select(
      col("id").as("ref"), col("changeset"), col("timestamp"),
      lead(col("timestamp"), 1).over(Window.partitionBy(col("id")).orderBy(col("version"))).as("validUntil"),
      coalesce(col("lat"), lit(Double.NaN)).as("lat"), coalesce(col("lon"), lit(Double.NaN)).as("lon"))
    val wayNodes = lifetimeRefs(ways, col("nds"), "ref").join(nodes, "ref")
      .where(col("validUntil").isNull || col("validUntil") >= col("since") || col("timestamp") >= col("since"))
    ways.groupBy(col("id")).as[Long, WayVersion]
      .cogroup(wayNodes.groupBy(col("id")).as[Long, WayNode])((_, vs, ns) => OsmTimelines.way(vs, ns, now))
      .select(lit(WayType).as("_type") +: ElementColumns :+ col("geometryChanged"): _*)
  }

  /** Multipolygon and route geometries over [[reconstructWayGeometries]]' rows;
    * each relation sees its member ways' rows valid at or after its first version.
    */
  def reconstructRelationGeometries(_relations: DataFrame, geoms: DataFrame,
      now: Timestamp = currentTime()): DataFrame = {
    val spark = _relations.sparkSession
    import spark.implicits._
    vps.geom.Geo.registerUDTs()
    val relations = preprocessRelations(_relations)
      .select(col("id"), col("version"), col("changeset"), col("timestamp"), col("validUntil"),
        col("tags"), col("members"), col("visible"),
        coalesce(isMultiPolygon(col("tags")), lit(false)).as("isMultiPolygon"),
        coalesce(isRoute(col("tags")), lit(false)).as("isRoute"))
      .where(col("isMultiPolygon") || col("isRoute"))
    val wayRefs = transform(filter(col("members"), m => m.getField("type") === WayType), _.getField("ref"))
    val memberWays = lifetimeRefs(relations, wayRefs, "wayId")
      .join(geoms.select(col("id").as("wayId"), col("changeset"), col("updated"), col("validUntil"), col("geom"),
        col("geometryChanged")), "wayId")
      .where(col("validUntil").isNull || col("validUntil") >= col("since"))
    relations.groupBy(col("id")).as[Long, RelationVersion]
      .cogroup(memberWays.groupBy(col("id")).as[Long, MemberWay])((_, vs, ws) => OsmTimelines.relation(vs, ws, now))
      .select(lit(RelationType).as("_type") +: ElementColumns: _*)
  }

  /** The reference's `OSM.toGeometry`: full history -> versioned geometries. */
  def toGeometry(input: DataFrame): DataFrame = {
    val now = currentTime()
    val elements = input.withColumn("tags", removeUninterestingTags(col("tags")))
    val nodes = preprocessNodes(elements)
    val wayGeoms = reconstructWayGeometries(elements, nodes, now)
    constructPointGeometries(nodes).withColumn("minorVersion", lit(0))
      .union(wayGeoms.where(size(col("tags")) > 0).drop("geometryChanged"))
      .union(reconstructRelationGeometries(elements, wayGeoms, now))
  }

  /** Time-pin snapshot over the validity interval (reference `OSM.snapshot`). */
  def snapshot(df: DataFrame, timestamp: Timestamp = null): DataFrame =
    df.where(
      col("updated") <= coalesce(lit(timestamp), current_timestamp()) &&
        coalesce(lit(timestamp), current_timestamp()) <
          coalesce(col("validUntil"), date_add(current_timestamp(), 1)))

  /** Join user metadata from a changesets table (reference `addUserMetadata`). */
  def addUserMetadata(geoms: DataFrame, changesets: DataFrame): DataFrame =
    geoms.join(changesets.select(col("id").as("changeset"), col("uid"), col("user")), Seq("changeset"))
}

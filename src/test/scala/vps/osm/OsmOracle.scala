package vps.osm

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

import vps.kernels.{RelationAssembly, WayAssembly}
import vps.kernels.OsmTimelines.MultiPolygonRoles
import vps.osm.Osm.{NodeType, RelationType, WayType, ensureCompressedMembers}
import vps.sql.TagFunctions._
import vps.sql.functions.st_point

/** Test oracle: OSM reconstruction as the plain DataFrame program it was
  * before `Osm.toGeometry` moved to one routing join and one keyed timeline
  * pass per element type. Same rows, different plan: temporal as-of joins,
  * a groupByKey way assembly, window minor versions, and separate
  * multipolygon and route branches. `current_timestamp()` bounds open
  * validity windows. Its `preprocess*` are the window-based resurrection and
  * validity that the `OsmTimelines` kernels now do per element.
  */
object OsmOracle {
  private def asDouble(c: Column) =
    when(c.isNotNull, c.cast("double")).otherwise(lit(Double.NaN))

  /** Resurrect deleted-version state + validity interval for nodes (W1/W2). */
  def preprocessNodes(history: DataFrame): DataFrame =
    if (history.columns.contains("validUntil")) history
    else {
      val w = Window.partitionBy(col("id")).orderBy(col("version"))
      history
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

  def preprocessWays(history: DataFrame): DataFrame =
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

  def preprocessRelations(history: DataFrame): DataFrame =
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

  /** Interesting nodes -> Point geometries; one row per (id, changeset). */
  def constructPointGeometries(nodes: DataFrame): DataFrame = {
    vps.geom.Geo.registerUDTs()
    val ns = preprocessNodes(nodes)
      .where(size(removeSemiInterestingTags(col("tags"))) > 0)
    ns.select(col("changeset"), col("id"), col("version"), col("timestamp"))
      .groupBy(col("changeset"), col("id"))
      .agg(max(col("version")).cast("int").as("version"), max(col("timestamp")).as("updated"))
      .join(ns.drop("changeset"), Seq("id", "version"))
      .select(
        lit(NodeType).as("_type"),
        col("id"),
        when(col("lon").isNotNull && col("lat").isNotNull, st_point(col("lon"), col("lat"))).as("geom"),
        col("tags"), col("changeset"), col("updated"), col("validUntil"),
        col("visible"), col("version"))
  }

  /** Way geometries with minor versions for node-triggered updates. */
  def reconstructWayGeometries(_ways: DataFrame, _nodes: DataFrame,
      _nodesToWays: Option[DataFrame] = None): DataFrame = {
    val spark = _ways.sparkSession
    import spark.implicits._
    vps.geom.Geo.registerUDTs()

    val idByVersion = Window.partitionBy(col("id")).orderBy(col("version"))

    val nodes = preprocessNodes(_nodes)
      .drop("validUntil") // stale after dropping unchanged versions
      .where(col("geometryChanged"))
      .drop("geometryChanged")
      .withColumn("validUntil", lead(col("timestamp"), 1).over(idByVersion))

    val ways = preprocessWays(_ways)
      .withColumn("isArea", isArea(col("tags")))

    val nodesToWays = _nodesToWays.getOrElse(
      ways.select(explode(col("nds")).as("id"), col("id").as("wayId"),
        col("version"), col("timestamp"), col("validUntil")))

    // node modifications spawn way timeline entries (as-of residual join)
    val waysByChangeset = nodes
      .select(col("changeset"), col("id"), col("timestamp").as("updated"))
      .join(nodesToWays, Seq("id"))
      .where(col("timestamp") <= col("updated") &&
        col("updated") < coalesce(col("validUntil"), current_timestamp()))
      .select(col("changeset"), col("wayId").as("id"), col("version"), col("updated"))

    val allWayVersions = waysByChangeset
      .union(ways.select(col("changeset"), col("id"), col("version"), col("timestamp").as("updated")))
      .groupBy(col("changeset"), col("id"))
      .agg(max(col("version")).cast("int").as("version"), max(col("updated")).as("updated"))
      .join(ways.select(col("id"), col("version"), col("nds"), col("isArea")), Seq("id", "version"))

    val explodedWays = allWayVersions
      .select(col("changeset"), col("id"), col("version"), col("updated"), col("isArea"),
        posexplode_outer(col("nds")).as(Seq("idx", "ref")))
      // skew: (id, updated) — version alone collides across minor versions
      .repartition(col("id"), col("updated"))

    val waysAndNodes = explodedWays
      .join(nodes.select(col("id").as("ref"), col("timestamp"), col("validUntil"),
        col("lat"), col("lon")), Seq("ref"), "left_outer")
      .where(col("timestamp") <= col("updated") &&
        col("updated") < coalesce(col("validUntil"), current_timestamp()))

    val wayGeoms = waysAndNodes
      .select(col("changeset"), col("id"), col("version"), col("updated"),
        col("isArea"), col("idx"), col("lat"), col("lon"))
      .groupByKey(r => (r.getAs[Long]("changeset"), r.getAs[Long]("id"),
        r.getAs[Int]("version"), r.getAs[Timestamp]("updated")))
      .mapGroups[(Long, Long, Int, Timestamp, Geometry)] {
        (key: (Long, Long, Int, Timestamp), rows: Iterator[Row]) =>
          val (changeset, id, version, updated) = key
          val members = rows.toVector
          val isArea = members.head.getAs[Boolean]("isArea")
          val coords = members
            .sortBy(_.getAs[Int]("idx"))
            .map { r =>
              val lon = Option(r.get(r.fieldIndex("lon"))).map(_.asInstanceOf[Double]).getOrElse(Double.NaN)
              val lat = Option(r.get(r.fieldIndex("lat"))).map(_.asInstanceOf[Double]).getOrElse(Double.NaN)
              (lon, lat)
            }
          // empty ways arrive as a single null-ref row from posexplode_outer
          val effective = if (members.length == 1 && members.head.isNullAt(members.head.fieldIndex("idx"))) Seq.empty else coords
          (changeset, id, version, updated, WayAssembly.assemble(effective, isArea))
      }
      .toDF("changeset", "id", "version", "updated", "geom")

    val idAndVersionByUpdated = Window.partitionBy(col("id"), col("version")).orderBy(col("updated"))
    val idByUpdated = Window.partitionBy(col("id")).orderBy(col("updated"))

    wayGeoms
      .withColumn("validUntil", lead(col("updated"), 1).over(idByUpdated))
      .withColumn("minorVersion", row_number().over(idAndVersionByUpdated) - 1)
      .withColumn("geometryChanged", !(lag(col("geom"), 1).over(idByUpdated) <=> col("geom")))
      .join(ways.select(col("id"), col("version"), col("tags"), col("visible")), Seq("id", "version"))
      .select(
        lit(WayType).as("_type"), col("id"), col("geom"), col("tags"), col("changeset"),
        col("updated"), col("validUntil"), col("visible"), col("version"),
        col("minorVersion"), col("geometryChanged"))
  }

  private def getRelationMembers(relations: DataFrame, geoms: DataFrame): DataFrame = {
    val waysToRelations = relations
      .select(explode(col("members")).as("member"), col("id").as("relationId"),
        col("version"), col("timestamp"), col("validUntil"))
      .withColumn("type", col("member.type"))
      .withColumn("id", col("member.ref"))
      .drop("member")

    val idByVersion = Window.partitionBy(col("id")).orderBy(col("version"))

    val relationsByChangeset = geoms
      .where(col("geometryChanged"))
      .drop("validUntil")
      .withColumn("validUntil", lead(col("updated"), 1).over(idByVersion))
      .withColumn("type", lit(WayType))
      .select(col("type"), col("changeset"), col("id"), col("updated"))
      .join(waysToRelations.withColumnRenamed("timestamp", "relTimestamp")
        .withColumnRenamed("validUntil", "relValidUntil"), Seq("id", "type"))
      .where(col("relTimestamp") <= col("updated") &&
        col("updated") < coalesce(col("relValidUntil"), current_timestamp()))
      .select(col("changeset"), col("relationId").as("id"), col("version"), col("updated"))

    val idAndVersionByUpdated = Window.partitionBy(col("id"), col("version")).orderBy(col("updated"))
    val idByUpdated = Window.partitionBy(col("id")).orderBy(col("updated"))

    relationsByChangeset
      .union(relations.select(col("changeset"), col("id"), col("version"), col("timestamp").as("updated")))
      .groupBy(col("changeset"), col("id"))
      .agg(max(col("version")).cast("int").as("version"), max(col("updated")).as("updated"))
      .join(relations.select(col("id"), col("version"), col("members")), Seq("id", "version"))
      // minorVersion assigned pre-explode (skew note: huge relation histories)
      .withColumn("validUntil", lead(col("updated"), 1).over(idByUpdated))
      .withColumn("minorVersion", row_number().over(idAndVersionByUpdated) - 1)
      .select(col("changeset"), col("id"), col("version"), col("minorVersion"),
        col("updated"), col("validUntil"), explode_outer(col("members")).as("member"))
      .select(col("changeset"), col("id"), col("version"), col("minorVersion"),
        col("updated"), col("validUntil"),
        col("member.type").as("type"), col("member.ref").as("ref"), col("member.role").as("role"))
      .distinct()
  }

  private def joinMemberGeometries(members: DataFrame, geoms: DataFrame): DataFrame =
    members
      .join(geoms.select(lit(WayType).as("type"), col("id").as("ref"),
        col("updated").as("memberUpdated"), col("validUntil").as("memberValidUntil"),
        col("geom")), Seq("type", "ref"), "left_outer")
      .where(
        (col("memberUpdated").isNull && col("memberValidUntil").isNull && col("geom").isNull) ||
          (col("memberUpdated") <= col("updated") &&
            col("updated") < coalesce(col("memberValidUntil"), current_timestamp())))
      .drop("memberUpdated", "memberValidUntil", "ref")

  private type RelKey = (Long, Long, Int, Int, Timestamp, Timestamp)
  private def relKey(r: Row): RelKey =
    (r.getAs[Long]("changeset"), r.getAs[Long]("id"), r.getAs[Int]("version"),
      r.getAs[Int]("minorVersion"), r.getAs[Timestamp]("updated"), r.getAs[Timestamp]("validUntil"))

  def reconstructMultiPolygonRelationGeometries(_relations: DataFrame, geoms: DataFrame): DataFrame = {
    val spark = _relations.sparkSession
    import spark.implicits._
    vps.geom.Geo.registerUDTs()

    val relations = preprocessRelations(_relations).where(isMultiPolygon(col("tags")))
    val members = joinMemberGeometries(
      getRelationMembers(relations, geoms).where(col("role").isin(MultiPolygonRoles: _*)),
      geoms)

    val relationGeoms = members
      .groupByKey(relKey _)
      .mapGroups[(Long, Long, Int, Int, Timestamp, Timestamp, Geometry)] {
        (key: RelKey, rows: Iterator[Row]) =>
          val (changeset, id, version, minorVersion, updated, validUntil) = key
          val ms = rows.toVector
          val geom = RelationAssembly.buildMultiPolygon(
            ms.map(_.getAs[Byte]("type")),
            ms.map(_.getAs[String]("role")),
            ms.map(_.getAs[Geometry]("geom"))).orNull
          (changeset, id, version, minorVersion, updated, validUntil, geom)
      }
      .toDF("changeset", "id", "version", "minorVersion", "updated", "validUntil", "geom")

    relationGeoms
      .join(relations.select(col("id"), col("version"), col("tags"), col("visible")), Seq("id", "version"))
      .select(lit(RelationType).as("_type"), col("id"), col("geom"), col("tags"),
        col("changeset"), col("updated"), col("validUntil"), col("visible"),
        col("version"), col("minorVersion"))
  }

  def reconstructRouteRelationGeometries(_relations: DataFrame, geoms: DataFrame): DataFrame = {
    val spark = _relations.sparkSession
    import spark.implicits._
    vps.geom.Geo.registerUDTs()

    val relations = preprocessRelations(_relations).where(isRoute(col("tags")))
    val members = joinMemberGeometries(getRelationMembers(relations, geoms), geoms)

    val relationGeoms = members
      .groupByKey(relKey _)
      .flatMapGroups[(Long, Long, Map[String, String], Int, Int, Timestamp, Timestamp, Geometry)] {
        (key: RelKey, rows: Iterator[Row]) =>
          val (changeset, id, version, minorVersion, updated, validUntil) = key
          val ms = rows.toVector
          RelationAssembly.buildRoute(
            ms.map(_.getAs[Byte]("type")),
            ms.map(_.getAs[String]("role")),
            ms.map(_.getAs[Geometry]("geom"))) match {
            case Some(components) => components.map {
              case ("", geom)   => (changeset, id, Map.empty[String, String], version, minorVersion, updated, validUntil, geom)
              case (role, geom) => (changeset, id, Map("role" -> role), version, minorVersion, updated, validUntil, geom)
            }
            case None => Seq((changeset, id, Map.empty[String, String], version, minorVersion, updated, validUntil, null: Geometry))
          }
      }
      .toDF("changeset", "id", "roleTags", "version", "minorVersion", "updated", "validUntil", "geom")

    // merge role into tags (the reference's mergeTags with ;-joined value sets)
    relationGeoms
      .join(relations.select(col("id"), col("version"), col("tags").as("originalTags"),
        col("visible")), Seq("id", "version"))
      .withColumn("tags", map_zip_with(
        col("originalTags"),
        col("roleTags"),
        (_, a, b) => when(a.isNull, b).when(b.isNull, a)
          .when(a === b, a)
          .otherwise(concat_ws(";", a, b))))
      .select(lit(RelationType).as("_type"), col("id"), col("geom"), col("tags"),
        col("changeset"), col("updated"), col("validUntil"), col("visible"),
        col("version"), col("minorVersion"))
  }

  def reconstructRelationGeometries(_relations: DataFrame, geoms: DataFrame): DataFrame = {
    val relations = preprocessRelations(_relations)
    reconstructMultiPolygonRelationGeometries(relations, geoms)
      .union(reconstructRouteRelationGeometries(relations, geoms))
  }

  /** The reference's `OSM.toGeometry`: full history -> versioned geometries. */
  def toGeometry(input: DataFrame): DataFrame = {
    val elements = input.withColumn("tags", removeUninterestingTags(col("tags")))
    val nodes = preprocessNodes(elements)
    val nodeGeoms = constructPointGeometries(nodes)
      .withColumn("minorVersion", lit(0))
    val wayGeoms = reconstructWayGeometries(elements, nodes)
    val relationGeoms = reconstructRelationGeometries(elements, wayGeoms)
    nodeGeoms
      .union(wayGeoms.where(size(col("tags")) > 0).drop("geometryChanged"))
      .union(relationGeoms)
  }
}

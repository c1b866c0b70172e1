package vps.sql

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, CollationFactory, CollationSupport,
  GenericArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** OSM tag predicate / hygiene functions (SURVEY.md §2.8 F1-F18) as Spark
  * expressions — no opaque UDFs, so column pruning and predicate pushdown keep
  * working through them (the reference wraps these in Scala UDFs,
  * `/root/reference/src/main/scala/vectorpipe/functions/osm/package.scala`).
  * Most are builtin compositions; the tag filters and `isArea`, which would
  * need lambda functions (interpreted, each a projection of its own outside
  * whole-stage codegen), are [[FunctionTable]] kernel rows over the tag map
  * ([[TagRules]]).
  *
  * Truth tables (AreaKeys et al.) follow the public osmlab/id-area-keys v2.13.0
  * dataset, same as the reference.
  */
object TagFunctions {

  private[sql] val TruthyValues = Seq("yes", "true", "1")
  private val FalsyValues = Seq("no", "false", "0")
  private[sql] val BooleanValues = TruthyValues ++ FalsyValues
  private val MultiPolygonTypes = Seq("multipolygon", "boundary")
  private val WaterwayValues = Seq(
    "river", "riverbank", "canal", "stream", "stream_end", "brook", "drain", "ditch",
    "dam", "weir", "waterfall", "pressurised")
  private val PoiTags = Seq("amenity", "shop", "craft", "office", "leisure", "aeroway")

  /** id-area-keys v2.13.0: key -> values that stay LINES (inverted lists). */
  val AreaKeys: Map[String, Set[String]] = Map(
    "addr:*" -> Set(),
    "advertising" -> Set("billboard"),
    "aerialway" -> Set("cable_car", "chair_lift", "drag_lift", "gondola", "goods",
      "magic_carpet", "mixed_lift", "platter", "rope_tow", "t-bar"),
    "aeroway" -> Set("runway", "taxiway"),
    "allotments" -> Set(),
    "amenity" -> Set("bench"),
    "area:highway" -> Set(),
    "attraction" -> Set("dark_ride", "river_rafting", "summer_toboggan", "train", "water_slide"),
    "bridge:support" -> Set(),
    "building" -> Set(),
    "camp_site" -> Set(),
    "club" -> Set(),
    "craft" -> Set(),
    "emergency" -> Set("designated", "destination", "no", "official", "private", "yes"),
    "golf" -> Set("hole", "lateral_water_hazard", "water_hazard"),
    "healthcare" -> Set(),
    "historic" -> Set(),
    "industrial" -> Set(),
    "internet_access" -> Set(),
    "junction" -> Set("circular", "roundabout"),
    "landuse" -> Set(),
    "leisure" -> Set("slipway", "track"),
    "man_made" -> Set("breakwater", "crane", "cutline", "embankment", "groyne", "pier", "pipeline"),
    "military" -> Set(),
    "natural" -> Set("cliff", "coastline", "ridge", "tree_row"),
    "office" -> Set(),
    "piste:type" -> Set("downhill", "hike", "ice_skate", "nordic", "skitour", "sled", "sleigh"),
    "place" -> Set(),
    "playground" -> Set("balancebeam", "slide", "zipwire"),
    "power" -> Set("cable", "line", "minor_line"),
    "public_transport" -> Set("platform"),
    "residential" -> Set(),
    "seamark:type" -> Set(),
    "shop" -> Set(),
    "tourism" -> Set("artwork"),
    "traffic_calming" -> Set("bump", "cushion", "dip", "hump", "rumble_strip"),
    "waterway" -> Set("canal", "dam", "ditch", "drain", "river", "stream", "weir"))

  /** normalize + split `;`-delimited tag values, lower-cased (reference F1). */
  def splitDelimitedValues(values: Column, default: Column = lit("")): Column =
    split(lower(coalesce(regexp_replace(trim(values), "\\s*;\\s*", ";"), default)), ";")

  /** OSM area rules (reference F2): explicit area=yes/no wins; otherwise any
    * matching AreaKeys key where at least one `;`-value is NOT in the inverted
    * line-value list makes it an area. Null tags give null ([[TagRules.isArea]]).
    */
  def isArea(tags: Column): Column = FunctionTable.call("is_area", tags).as("isArea")

  def isMultiPolygon(tags: Column): Column =
    arrays_overlap(splitDelimitedValues(tags.getItem("type")), lit(MultiPolygonTypes.toArray))
      .as("isMultiPolygon")

  def isRoute(tags: Column): Column =
    array_contains(splitDelimitedValues(tags.getItem("type")), "route").as("isRoute")

  def isNew(version: Column, minorVersion: Column): Column =
    (version <=> 1 && minorVersion <=> 0).as("isNew")

  def isTagged(tags: Column): Column = (size(map_keys(tags)) > 0).as("isTagged")

  def isBuilding(tags: Column): Column =
    (!lower(coalesce(tags.getItem("building"), lit("no"))).isin(FalsyValues: _*)).as("isBuilding")

  def isPOI(tags: Column): Column =
    arrays_overlap(map_keys(tags), lit(PoiTags.toArray)).as("isPOI")

  def isRoad(tags: Column): Column = tags.getItem("highway").isNotNull.as("isRoad")

  def isCoastline(tags: Column): Column =
    array_contains(splitDelimitedValues(tags.getItem("natural")), "coastline").as("isCoastline")

  def isWaterway(tags: Column): Column =
    arrays_overlap(splitDelimitedValues(tags.getItem("waterway")), lit(WaterwayValues.toArray))
      .as("isWaterway")

  // ---- tag hygiene (reference F14/F15) ----

  private[sql] val UninterestingTags = Set(
    "created_by", "source", "comment", "_id", "clc", "odbl", "origen", "converted_by",
    "todo", "import_tools", "id", "importuuid", "attribution", "curve_geometry",
    "memphis_fixup", "importance", "description=ru-mos-325", "stamväg", "_fid_", "1",
    "_description_", "ccpr", "dfg", "source_ref", "ref:urbis", "accuracy:meters",
    "sub_sea:type", "waterway:type", "statscan:rbuid", "ref:ruian:addr", "ref:ruian",
    "building:ruian:type", "dibavod:id", "uir_adr:adresa_kod", "gst:feat_id",
    "maaamet:etak", "ref:fr:fantoir", "3dshapes:ggmodelk", "and_nosr_r", "oppdaterin",
    "addr:city:simc", "addr:street:sym_ul", "building:usage:pl", "building:use:pl",
    "teryt:simc", "raba:id", "dcgis:gis_id", "nycdoitt:bin", "chicago:building_id",
    "lojic:bgnum", "massgis:way_id", "objtype", "sk53_bulk:load")

  private[sql] val UninterestingPrefixes = Set(
    "clc", "tiger", "sby", "navibot", "nps", "hoot", "error", "project", "geobase",
    "canvec", "osak", "kms", "ngbe", "it:fvg", "ksj2", "yh", "linz2osm", "linz",
    "wroclawgis", "naptap", "gnis", "nhd", "mvdgis")

  private[sql] val UninterestingSingleTags = Set("colour")

  /** Drop blocklisted keys (reference `removeUninterestingTags`): a key
    * whose lower case is blocklisted, or starts with a blocklisted prefix and
    * a colon, or holds `=` or a space, and `colour` when it is the only key.
    */
  def removeUninterestingTags(tags: Column): Column = FunctionTable.call("remove_uninteresting_tags", tags)

  /** Drop `source` and `source:*` (reference `removeSemiInterestingTags`). */
  def removeSemiInterestingTags(tags: Column): Column = FunctionTable.call("remove_semi_interesting_tags", tags)

  // ---- hashtags (reference F13) ----

  // same character classes as the reference's HashtagMatcher / ContentMatcher
  private val HashtagPattern: String =
    "#([^\\u2000-\\u206F\\u2E00-\\u2E7F\\s\\\\'!\"#$%()*,./;<=>?@\\[\\]^{|}~]+)"
  private val ContentPattern: String =
    "[\\p{L}\\uD83C-\\uDBFF\\uDC00-\\uDFFF]" // letters or emoji (surrogate ranges)

  def hashtags(comment: Column): Column =
    when(comment.isNotNull && length(comment) > 0,
      array_distinct(transform(
        filter(
          transform(regexp_extract_all(comment, lit(HashtagPattern), lit(1)), lower _),
          t => t.rlike(ContentPattern)),
        t => regexp_replace(t, "[:]$", ""))))
      .otherwise(array().cast("array<string>")).as("hashtags")

  // ---- misc helpers (reference F17/F18) ----

  def asDouble(c: Column): Column = when(c.isNotNull, c.cast("double")).otherwise(lit(Double.NaN))
  def asFloat(c: Column): Column = when(c.isNotNull, c.cast("float")).otherwise(lit(Float.NaN))

  def flattenDistinct(c: Column): Column = array_distinct(flatten(c))
  def mergeSets(a: Column, b: Column): Column = array_distinct(array_union(a, b))
  def without(c: Column, value: Column): Column = array_remove(c, value)

  /** Seq[String] -> Map[value -> count] (reference `count_values`). */
  def countValues(c: Column): Column =
    map_from_entries(transform(array_distinct(c),
      v => struct(v, size(filter(c, x => x === v)))))
}

/** The kernels of [[TagFunctions.removeUninterestingTags]],
  * [[TagFunctions.removeSemiInterestingTags]] and [[TagFunctions.isArea]] over
  * a tag map. Keys and values are compared as the builtin string functions
  * compare them: `lower` with the session's case mappings (`icu`, read when
  * the call is planned), `trim` of spaces, `regexp_replace` and `split` by
  * Java regular expressions, equality on the UTF-8 bytes. A kept map holds its
  * entries in their input order.
  */
final case class TagRules(icu: Boolean) {
  import TagRules._

  private def lower(s: UTF8String): UTF8String =
    CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, icu)

  /** `tags` without the entries whose key fails `keep`. */
  private def filtered(tags: MapData)(keep: UTF8String => Boolean): MapData = {
    val keys = tags.keyArray
    val n = tags.numElements
    val kept = (0 until n).filter(i => keep(keys.getUTF8String(i)))
    if (kept.size == n) tags
    else {
      val values = tags.valueArray
      new ArrayBasedMapData(new GenericArrayData(kept.map(keys.getUTF8String).toArray[Any]),
        new GenericArrayData(kept.map(i => if (values.isNullAt(i)) null else values.getUTF8String(i)).toArray[Any]))
    }
  }

  def withoutUninteresting(tags: MapData): MapData = {
    val single = tags.numElements == 1
    filtered(tags) { k =>
      val lk = lower(k)
      !Uninteresting.contains(lk) && !(single && UninterestingSingle.contains(lk)) &&
        !UninterestingPrefix.matcher(lk.toString).find(0) && !k.contains(Equals) && !k.contains(Space)
    }
  }

  def withoutSemiInteresting(tags: MapData): MapData = filtered(tags) { k =>
    val lk = lower(k)
    lk != Source && !lk.startsWith(SourcePrefix)
  }

  /** The value of the first entry keyed `key`, or null. */
  private def value(tags: MapData, key: UTF8String): UTF8String = {
    val (keys, values) = (tags.keyArray, tags.valueArray)
    val i = (0 until tags.numElements).indexWhere(keys.getUTF8String(_) == key)
    if (i < 0 || values.isNullAt(i)) null else values.getUTF8String(i)
  }

  /** [[TagFunctions.splitDelimitedValues]] of a non-null value. */
  private def values(v: UTF8String): Array[UTF8String] =
    lower(UTF8String.fromString(Delimiter.matcher(v.trim().toString).replaceAll(";"))).split(Semicolon, -1)

  def isArea(tags: MapData): Boolean = {
    val area = value(tags, AreaKey)
    val explicit = if (area == null) Array.empty[UTF8String] else values(area)
    if (explicit.exists(BooleanValues.contains)) explicit.exists(TruthyValues.contains)
    else AreaKeys.exists { case (key, lineValues) =>
      val v = value(tags, key)
      v != null && (lineValues.isEmpty || values(v).exists(!lineValues.contains(_)))
    }
  }
}

object TagRules {
  private def utf8(xs: Iterable[String]): Set[UTF8String] = xs.map(UTF8String.fromString).toSet
  private val Uninteresting = utf8(TagFunctions.UninterestingTags)
  private val UninterestingSingle = utf8(TagFunctions.UninterestingSingleTags)
  private val UninterestingPrefix = Pattern.compile("^(" + TagFunctions.UninterestingPrefixes.toSeq.sorted
    .map(Pattern.quote).mkString("|") + "):")
  private val Equals = UTF8String.fromString("=")
  private val Space = UTF8String.fromString(" ")
  private val Source = UTF8String.fromString("source")
  private val SourcePrefix = UTF8String.fromString("source:")
  private val AreaKey = UTF8String.fromString("area")
  private val Delimiter = Pattern.compile("\\s*;\\s*")
  private val Semicolon = UTF8String.fromString(";")
  private val BooleanValues = utf8(TagFunctions.BooleanValues)
  private val TruthyValues = utf8(TagFunctions.TruthyValues)
  private val AreaKeys: Seq[(UTF8String, Set[UTF8String])] =
    TagFunctions.AreaKeys.toSeq.sortBy(_._1).map { case (k, v) => UTF8String.fromString(k) -> utf8(v) }

  /** The rules under the session's case mappings. */
  def current(): TagRules = TagRules(SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED))
}

/** The kernels of the relation-member columns `Osm.toGeometry` reads: the
  * struct field ordinals of a `members` array type (`type`, `ref`, `role`,
  * by name), read when the call is planned.
  */
final case class OsmMembers(width: Int, typeAt: Int, refAt: Int, roleAt: Int, refType: DataType,
    roleType: DataType) {
  import OsmMembers._

  /** `Osm.ensureCompressedMembers`' element: the `type` name as a code
    * (`node` 1, `way` 2, anything else 3, a null member too), `ref` and
    * `role` as they are.
    */
  def compress(members: ArrayData): ArrayData = new GenericArrayData(Array.tabulate[Any](members.numElements) { i =>
    if (members.isNullAt(i)) InternalRow(RelationCode, null, null)
    else {
      val m = members.getStruct(i, width)
      val t = if (m.isNullAt(typeAt)) null else m.getUTF8String(typeAt)
      InternalRow(if (t == Node) NodeCode else if (t == Way) WayCode else RelationCode,
        if (m.isNullAt(refAt)) null else m.get(refAt, refType),
        if (m.isNullAt(roleAt)) null else m.get(roleAt, roleType))
    }
  })

  /** The refs of the way members (code 2) of a compressed member array, in
    * order, as longs (a null ref stays null).
    */
  def wayRefs(members: ArrayData): ArrayData = {
    val refs = Array.newBuilder[Any]
    var i = 0
    while (i < members.numElements) {
      if (!members.isNullAt(i)) {
        val m = members.getStruct(i, width)
        if (!m.isNullAt(typeAt) && m.getByte(typeAt) == WayCode)
          refs += (if (m.isNullAt(refAt)) null else m.get(refAt, refType).asInstanceOf[Number].longValue)
      }
      i += 1
    }
    new GenericArrayData(refs.result())
  }
}

object OsmMembers {
  private val Node = UTF8String.fromString("node")
  private val Way = UTF8String.fromString("way")
  private val NodeCode = vps.osm.Osm.NodeType
  private val WayCode = vps.osm.Osm.WayType
  private val RelationCode = vps.osm.Osm.RelationType

  private def fields(members: DataType): StructType = members match {
    case ArrayType(s: StructType, _) if Seq("type", "ref", "role").forall(s.fieldNames.contains) => s
    case other => throw new IllegalArgumentException(s"members must be array<struct<type, ref, role>>, got $other")
  }

  /** The member kernels of a `members` column of type `members`. */
  def of(members: DataType): OsmMembers = {
    val s = fields(members)
    OsmMembers(s.size, s.fieldIndex("type"), s.fieldIndex("ref"), s.fieldIndex("role"), s("ref").dataType,
      s("role").dataType)
  }

  /** The result type of [[OsmMembers.compress]]: what the builtin `transform`
    * it replaced produced, field nullability included.
    */
  def compressedType(members: DataType): DataType = {
    val s = fields(members)
    val elementNullable = members.asInstanceOf[ArrayType].containsNull
    def field(name: String) = StructField(name, s(name).dataType, elementNullable || s(name).nullable)
    ArrayType(StructType(Seq(StructField("type", ByteType, nullable = false), field("ref"), field("role"))),
      containsNull = false)
  }

  /** The result type of [[OsmMembers.wayRefs]]. */
  val WayRefsType: ArrayType = ArrayType(LongType, containsNull = true)
}

package vps.sql

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession
import vps.osm.Osm

/** The tag and member kernel rows against the builtin compositions they
  * replaced (lambda functions over the tag map and the member array, kept
  * here as the oracle): same values, same entry order, same types and
  * nullability, over seeded tag maps and member arrays with nulls, mixed
  * case, non-ASCII keys and `;`-lists.
  */
class TagKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private object Oracle {
    private val prefixRegex = "^(" + TagFunctions.UninterestingPrefixes.toSeq.sorted
      .map(java.util.regex.Pattern.quote).mkString("|") + "):"

    def removeUninterestingTags(tags: Column): Column =
      map_filter(tags, (k, _) => {
        val lk = lower(k)
        !lk.isin(TagFunctions.UninterestingTags.toSeq: _*) &&
          !(size(map_keys(tags)) === 1 && lk.isin(TagFunctions.UninterestingSingleTags.toSeq: _*)) &&
          !lk.rlike(prefixRegex) && !k.contains("=") && !k.contains(" ")
      })

    def removeSemiInterestingTags(tags: Column): Column =
      map_filter(tags, (k, _) => {
        val lk = lower(k)
        lk =!= "source" && !lk.startsWith("source:")
      })

    def isArea(tags: Column): Column = {
      val areaVals = TagFunctions.splitDelimitedValues(tags.getItem("area"))
      val keyTests = TagFunctions.AreaKeys.toSeq.sortBy(_._1).map { case (key, lineValues) =>
        val vals = TagFunctions.splitDelimitedValues(tags.getItem(key))
        tags.getItem(key).isNotNull && (
          if (lineValues.isEmpty) lit(true)
          else size(filter(vals, v => !v.isin(lineValues.toSeq.map(lit): _*))) > 0)
      }
      when(tags.isNull, lit(null))
        .when(tags.getItem("area").isNotNull && arrays_overlap(areaVals, lit(TagFunctions.BooleanValues.toArray)),
          arrays_overlap(areaVals, lit(TagFunctions.TruthyValues.toArray)))
        .otherwise(keyTests.reduce(_ || _)).as("isArea")
    }

    def compressMembers(members: Column): Column =
      transform(members, m => struct(
        when(m.getField("type") === "node", lit(Osm.NodeType.toInt))
          .when(m.getField("type") === "way", lit(Osm.WayType.toInt))
          .otherwise(lit(Osm.RelationType.toInt)).cast("byte").as("type"),
        m.getField("ref").as("ref"),
        m.getField("role").as("role")))

    def wayRefs(members: Column): Column =
      transform(filter(members, m => m.getField("type") === Osm.WayType), _.getField("ref"))
  }

  private val keys = Seq("building", "area", "Area", "highway", "waterway", "natural", "aeroway", "addr:*",
    "addr:street", "created_by", "Created_By", "source", "SOURCE", "source:geometry", "Source:date", "sources",
    "tiger:cfcc", "TIGER:reviewed", "tigerish", "clc", "clc:code", "colour", "Colour", "k=v", "land use", "name",
    "İd", "straße", "ÉTÉ", "power", "leisure", "junction", "type")
  private val values = Seq("yes", "No", "YES", " yes ; no", "no;yes", "1", "0", "true", "river", "canal;dam",
    "Canal ; River", "riverbank", "track", "", " ", ";", "slipway;track", "cable", "line", "İ", "ß", null)

  /** Seeded tag maps of 0-5 entries, plus a null map. */
  private def tagMaps(): DataFrame = {
    val rng = new scala.util.Random(17)
    val maps = (0 until 600).map { i =>
      if (i == 0) Row(i.toLong, null)
      else Row(i.toLong,
        (0 until rng.nextInt(6)).map(_ => keys(rng.nextInt(keys.size)) -> values(rng.nextInt(values.size))).toMap)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(maps, 4),
      StructType(Seq(StructField("id", LongType), StructField("tags", MapType(StringType, StringType)))))
  }

  private def same(df: DataFrame, kernel: Column, oracle: Column, ordered: Boolean): Unit = {
    val k = df.select(col("id"), kernel.as("v"))
    val o = df.select(col("id"), oracle.as("v"))
    assert(k.schema === o.schema)
    def rows(d: DataFrame) = (if (ordered) d.select(col("id"), map_entries(col("v"))) else d).collect().toSeq
    assert(rows(k) === rows(o))
  }

  test("the tag filter and isArea kernels give the builtin compositions' values, order and types") {
    val df = tagMaps().cache()
    try {
      same(df, TagFunctions.removeUninterestingTags(col("tags")), Oracle.removeUninterestingTags(col("tags")),
        ordered = true)
      same(df, TagFunctions.removeSemiInterestingTags(col("tags")), Oracle.removeSemiInterestingTags(col("tags")),
        ordered = true)
      same(df, TagFunctions.isArea(col("tags")), Oracle.isArea(col("tags")), ordered = false)
      // the kernels see both answers
      val areas = df.select(TagFunctions.isArea(col("tags"))).collect().map(r => Option(r.get(0))).toSet
      assert(areas === Set(None, Some(true), Some(false)))
    } finally df.unpersist()
  }

  test("the member kernels give the builtin transform's members and way refs") {
    val rng = new scala.util.Random(23)
    val types = Seq("node", "way", "relation", "Way", "", null)
    val rows = (0 until 300).map { i =>
      if (i == 0) Row(i.toLong, null)
      else Row(i.toLong, (0 until rng.nextInt(5)).map { j =>
        if (rng.nextInt(12) == 0) null
        else Row(types(rng.nextInt(types.size)), if (rng.nextInt(10) == 0) null else rng.nextInt(50).toLong,
          if (j % 2 == 0) "outer" else null)
      })
    }
    val memberType = ArrayType(StructType(Seq(
      StructField("type", StringType), StructField("ref", LongType), StructField("role", StringType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("id", LongType), StructField("members", memberType)))).cache()
    try {
      val compressed = Osm.ensureCompressedMembers(df)
      assert(compressed.schema === df.withColumn("members", Oracle.compressMembers(col("members"))).schema)
      val kernel = compressed.select(col("id"), col("members")).collect().toSeq
      val oracle = df.select(col("id"), Oracle.compressMembers(col("members"))).collect().toSeq
      assert(kernel === oracle)
      val refs = compressed.select(col("id"), FunctionTable.call("way_member_refs", col("members"))).collect().toSeq
      val oracleRefs = compressed.select(col("id"), Oracle.wayRefs(col("members"))).collect().toSeq
      assert(refs === oracleRefs)
      assert(refs.exists(r => r.getSeq[Any](1) != null && r.getSeq[Any](1).contains(null)))
    } finally df.unpersist()
  }
}

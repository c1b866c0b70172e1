package vps.joins

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField}
import vps.SparkTestSession
import vps.geom.GeometryUDT
import vps.sql.functions._

class GeocodeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("withRegions appends containing region names; regionsByKey aggregates") {
    val regions = Seq(
      ("west", "POLYGON ((-10 -10, 0 -10, 0 10, -10 10, -10 -10))"),
      ("east", "POLYGON ((0 -10, 10 -10, 10 10, 0 10, 0 -10))"),
      ("all", "POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10))"))
      .toDF("name", "wkt").select($"name", st_geomFromWKT($"wkt").as("geom"))
    val pts = Seq(
      (1L, 10L, -5.0, 0.0), // west + all
      (2L, 10L, 5.0, 0.0),  // east + all
      (3L, 20L, 50.0, 50.0) // nowhere
    ).toDF("id", "changeset", "lon", "lat")
      .select($"id", $"changeset", st_point($"lon", $"lat").as("geom"))

    val geocoded = Geocode.withRegions(pts, regions)
    val m = geocoded.select($"id", $"regions").as[(Long, Seq[String])].collect().toMap
    assert(m(1L) === Seq("all", "west"))
    assert(m(2L) === Seq("all", "east"))
    assert(m(3L) === Seq.empty)
    assert(geocoded.count() === 3) // left outer: no row loss

    val byChangeset = Geocode.regionsByKey(geocoded, "changeset")
      .as[(Long, Seq[String])].collect().toMap
    assert(byChangeset(10L) === Seq("all", "east", "west"))
    assert(byChangeset.get(20L).isEmpty) // no regions -> no row
  }

  private def box(name: String, x0: Int, y0: Int, x1: Int, y1: Int) =
    (name, s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))")

  test("withRegions keeps a row without geometry, skips unnamed regions and lists a shared name once") {
    val regions = Seq(box("a", 0, 0, 10, 10), box(null, 0, 0, 10, 10), box("b", 2, 2, 8, 8),
      box("a", 4, 4, 6, 6), box("c", 20, 20, 30, 30))
      .toDF("name", "wkt").select($"name", st_geomFromWKT($"wkt").as("geom"))
    val pts = Seq((1L, Some(5.0)), (2L, Some(1.0)), (3L, None)).toDF("id", "lon")
      .select($"id", when($"lon".isNotNull, st_point($"lon", $"lon"))
        .otherwise(lit(null).cast(GeometryUDT.Instance)).as("geom"))
    val got = Geocode.withRegions(pts, regions).select($"id", $"regions").as[(Long, Seq[String])]
      .collect().toMap
    assert(got === Map(1L -> Seq("a", "b"), 2L -> Seq("a"), 3L -> Seq.empty))
  }

  test("withRegions appends a non-nullable array<string> of non-null names") {
    val regions = Seq(box("a", 0, 0, 10, 10)).toDF("name", "wkt")
      .select($"name", st_geomFromWKT($"wkt").as("geom"))
    val pts = Seq((1L, 5.0)).toDF("id", "lon").select($"id", st_point($"lon", $"lon").as("geom"))
    val schema = Geocode.withRegions(pts, regions).schema
    assert(schema.fieldNames.toSeq === Seq("id", "geom", "regions"))
    assert(schema("regions") === StructField("regions", ArrayType(StringType, containsNull = false), nullable = false))
  }
}

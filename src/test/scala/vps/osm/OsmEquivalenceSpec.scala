package vps.osm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.locationtech.jts.geom.{Geometry, Lineal, Polygonal}
import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession
import vps.geom.Wkb

/** `Osm.toGeometry` against the DataFrame program it replaced
  * ([[OsmOracle]]) on seeded synthesized histories and the hand-built edge
  * cases. Non-geometry columns must be equal; node and way geometries
  * byte-equal; multipolygons equal after `norm()`; routes topologically
  * equal (the oracle stitches route members in shuffle order).
  */
class OsmEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Rows as (non-geometry columns, geometry), sorted on the former and
    * then on the geometry's dimension (a relation tagged both multipolygon
    * and route emits a polygon and a line row under the same columns).
    */
  private def rowsOf(df: DataFrame): Seq[(String, Geometry)] =
    df.collect().toSeq.map { r =>
      val g = r.getAs[Geometry]("geom")
      val cols = df.columns.filter(_ != "geom").map {
        case "tags" => Option(r.getAs[Map[String, String]]("tags")).map(_.toSeq.sorted).toString
        case c      => String.valueOf(r.get(r.fieldIndex(c)))
      }
      (cols.mkString("|") + "|" + (if (g == null) -1 else g.getDimension), g)
    }.sortBy(_._1)

  private def sameGeometry(a: Geometry, b: Geometry): Boolean =
    if (a == null || b == null) a == b
    else if (a.isInstanceOf[Polygonal] && b.isInstanceOf[Polygonal]) a.norm().equalsExact(b.norm())
    else if (a.isInstanceOf[Lineal] && b.isInstanceOf[Lineal]) a.equalsTopo(b)
    else java.util.Arrays.equals(Wkb.write(a), Wkb.write(b))

  private def assertEquivalent(rows: Seq[Row], schema: StructType = OsmHistories.schema): Unit = {
    val history = OsmHistories.frame(spark, rows, schema)
    val got = Osm.toGeometry(history)
    val want = OsmOracle.toGeometry(history)
    assert(got.schema.map(f => f.name -> f.dataType) === want.schema.map(f => f.name -> f.dataType))
    val (g, w) = (rowsOf(got), rowsOf(want))
    // the history must exercise all three element types and minor versions
    val names = want.columns.filter(_ != "geom")
    def field(row: (String, Geometry), name: String) = row._1.split('|')(names.indexOf(name))
    assert(w.map(field(_, "_type")).toSet === Set("1", "2", "3"))
    assert(w.exists(field(_, "minorVersion") != "0"))
    assert(g.map(_._1) === w.map(_._1))
    g.zip(w).foreach { case ((cols, a), (_, b)) =>
      val relation = cols.startsWith(Osm.RelationType.toString + "|")
      if (relation) assert(sameGeometry(a, b), s"$cols: $a != $b")
      else assert(java.util.Arrays.equals(Option(a).map(Wkb.write).orNull, Option(b).map(Wkb.write).orNull), s"$cols: $a != $b")
    }
  }

  test("hand-built edge cases match the oracle") {
    assertEquivalent(OsmHistories.edgeCases)
  }

  test("deleted-version edge cases match the oracle") {
    assertEquivalent(OsmHistories.resurrectionCases)
  }

  test("a history whose columns are all nullable, as a file read gives it, matches the oracle") {
    assertEquivalent(OsmHistories.edgeCases, StructType(OsmHistories.schema.map(_.copy(nullable = true))))
  }

  Seq(1L, 2L, 3L, 4L).foreach { seed =>
    test(s"synthesized history (seed $seed) matches the oracle") {
      assertEquivalent(OsmHistories.synthesized(seed))
    }
  }

  test("route output does not depend on the shuffle partition count") {
    val history = OsmHistories.frame(spark, OsmHistories.edgeCases ++ OsmHistories.synthesized(5))
    def routes(partitions: Int): Seq[(String, String)] = {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try rowsOf(Osm.toGeometry(history).where(vps.sql.TagFunctions.isRoute(org.apache.spark.sql.functions.col("tags"))))
        .map { case (cols, g) => cols -> Option(g).map(_.toText).orNull }
      finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
    val one = routes(1)
    assert(one.exists(_._2 != null))
    assert(one === routes(8))
  }
}

package vps.kernels

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.Geometry
import vps.SparkTestSession
import vps.geom.{Wkb, Wkt}
import scala.jdk.CollectionConverters._

/** The reference's crown-jewel correctness gate: 14 real OSM multipolygon relations
  * (members in `relation-*.orc`, expected osm2pgsql geometry in `relation-*.wkt`,
  * provenance `/root/reference/src/test/scala/vectorpipe/MultiPolygonRelationReconstructionSpec.scala:42-88`).
  * RETRIEVED PUBLIC CONTENT — read-only fixtures.
  */
class MultiPolygonFixtureSpec extends AnyFunSuite {
  private val resDir = "/root/reference/src/test/resources"

  // the reference's active table minus 5612959 ("too pathological", removed there too)
  private val fixtureIds = Seq(
    333501, 393502, 1949938, 3105056, 2580685, 3080946,
    5448156, 5448691, 191199, 61315, 2554903, 191204, 110564)

  private def typeCode(t: String): Byte = t match {
    case "node" => 1
    case "way" => 2
    case "relation" => 3
    case _ => 0
  }

  private def fixtureFile(id: Int, ext: String) = new java.io.File(s"$resDir/relation-$id.$ext")

  private def expectedWkts(id: Int): Seq[Geometry] =
    java.nio.file.Files.readAllLines(fixtureFile(id, "wkt").toPath).asScala.toSeq
      .filter(_.nonEmpty).map(Wkt.read)

  private def buildFixture(id: Int): Seq[Geometry] = {
    val spark = SparkTestSession.spark
    val rows = spark.read.orc(fixtureFile(id, "orc").getPath)
      .select("changeset", "id", "type", "role", "geom")
      .collect() // single small file; preserves file row order
    // group by (changeset, id) in first-appearance order, preserving member order
    val grouped = rows.groupBy(r => (r.getLong(0), r.getLong(1))).toSeq
      .sortBy { case (k, _) => rows.indexWhere(r => (r.getLong(0), r.getLong(1)) == k) }
    grouped.flatMap { case (_, members) =>
      val types = members.toSeq.map(r => typeCode(r.getString(2)))
      val roles = members.toSeq.map(r => r.getString(3))
      val geoms = members.toSeq.map { r =>
        val b = r.getAs[Array[Byte]]("geom")
        if (b == null) null else Wkb.read(b)
      }
      RelationAssembly.buildMultiPolygon(types, roles, geoms)
    }
  }

  fixtureIds.foreach { id =>
    test(s"relation $id matches osm2pgsql WKT") {
      // the members and osm2pgsql's output exist only in the reference checkout:
      // without both files there is nothing to compare, so the test cancels
      Seq("orc", "wkt").map(fixtureFile(id, _)).foreach { f =>
        assume(f.exists, s"fixture absent: ${f.getPath}")
      }
      val actual = buildFixture(id)
      val expected = expectedWkts(id)
      assert(actual.size === expected.size, s"geometry count for $id")
      actual.zip(expected).foreach { case (a, e) =>
        if (!a.equalsExact(e)) {
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"/tmp/rel-$id-actual.wkt"), Wkt.write(a))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"/tmp/rel-$id-expected.wkt"), Wkt.write(e))
        }
        assert(a.equalsExact(e),
          s"relation $id: norm-equal=${a.norm().equalsExact(e.norm())} (full WKT in /tmp/rel-$id-*.wkt)")
      }
    }
  }
}

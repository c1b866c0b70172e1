package vps.mvt

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom._
import vps.geom.{Geo, Wkt}
import scala.util.Random

class MvtSpec extends AnyFunSuite {

  private def feat(wkt: String, attrs: (String, MvtValue)*): MvtFeature =
    MvtFeature(None, Wkt.read(wkt), attrs.toSeq)

  private def roundTrip(tile: MvtTile): MvtTile = Mvt.decode(Mvt.encode(tile))

  test("point feature round trip with attributes") {
    val tile = MvtTile(Seq(MvtLayer("pts", 4096, 2, Seq(
      MvtFeature(Some(7L), Wkt.read("POINT (25 17)"), Seq(
        "name" -> MvtValue.Str("hello"),
        "height" -> MvtValue.F64(12.5),
        "count" -> MvtValue.I64(42),
        "flag" -> MvtValue.Bool(true)))))))
    val back = roundTrip(tile)
    assert(back.layers.size === 1)
    val l = back.layers.head
    assert(l.name === "pts" && l.extent === 4096 && l.version === 2)
    val f = l.features.head
    assert(f.id === Some(7L))
    assert(f.geometry.equalsExact(Wkt.read("POINT (25 17)")))
    assert(f.attrs.toMap === Map(
      "name" -> MvtValue.Str("hello"), "height" -> MvtValue.F64(12.5),
      "count" -> MvtValue.I64(42), "flag" -> MvtValue.Bool(true)))
  }

  test("the spec example geometries round trip") {
    // examples from the public MVT 2.1 spec
    val cases = Seq(
      "POINT (25 17)",
      "MULTIPOINT (5 7, 3 2)",
      "LINESTRING (2 2, 2 10, 10 10)",
      "MULTILINESTRING ((2 2, 2 10, 10 10), (1 1, 3 5))",
      "POLYGON ((3 6, 8 12, 20 34, 3 6))",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))",
      "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), ((11 11, 20 11, 20 20, 11 20, 11 11), (13 13, 13 17, 17 17, 17 13, 13 13)))"
    )
    cases.foreach { wkt =>
      val g = Wkt.read(wkt)
      val tile = MvtTile(Seq(MvtLayer("l", 4096, 2, Seq(MvtFeature(None, g, Seq.empty)))))
      val back = roundTrip(tile).layers.head.features.head.geometry
      assert(back.norm().equalsExact(g.norm()), s"mismatch for $wkt: got ${Wkt.write(back)}")
    }
  }

  test("key/value pools dedupe across features") {
    val fs = (1 to 10).map(i => feat(s"POINT ($i $i)", "kind" -> MvtValue.Str("poi"), "i" -> MvtValue.I64(i % 2)))
    val bytes = Mvt.encode(MvtTile(Seq(MvtLayer("l", 4096, 2, fs))))
    val back = Mvt.decode(bytes).layers.head
    assert(back.features.size === 10)
    back.features.zipWithIndex.foreach { case (f, i) =>
      assert(f.attrs.toMap.apply("i") === MvtValue.I64((i + 1) % 2))
    }
    // pooled encoding should be compact: 2 keys + 3 distinct values total
    val naive = fs.map(_ => 20).sum
    assert(bytes.length < naive + 200)
  }

  test("winding is normalized: reversed shells/holes still decode to valid polygons") {
    // shell given counter-clockwise-on-screen (wrong), hole clockwise (wrong)
    val shell = Geo.factory.createLinearRing(Array(
      new Coordinate(0, 0), new Coordinate(0, 10), new Coordinate(10, 10),
      new Coordinate(10, 0), new Coordinate(0, 0)))
    val hole = Geo.factory.createLinearRing(Array(
      new Coordinate(2, 2), new Coordinate(4, 2), new Coordinate(4, 4),
      new Coordinate(2, 4), new Coordinate(2, 2)))
    val poly = Geo.factory.createPolygon(shell, Array(hole))
    val tile = MvtTile(Seq(MvtLayer("l", 4096, 2, Seq(MvtFeature(None, poly, Seq.empty)))))
    val back = roundTrip(tile).layers.head.features.head.geometry.asInstanceOf[Polygon]
    assert(back.getNumInteriorRing === 1)
    assert(back.norm().equalsExact(poly.norm()))
  }

  test("degenerate geometries are dropped, not corrupted") {
    val line1pt = Geo.factory.createLineString(Array(new Coordinate(1, 1), new Coordinate(1.2, 1.2))) // collapses after quantization
    val tile = MvtTile(Seq(MvtLayer("l", 4096, 2, Seq(MvtFeature(None, line1pt, Seq.empty), feat("POINT (5 5)")))))
    val back = roundTrip(tile).layers.head
    assert(back.features.size === 1) // the degenerate line vanished
    assert(back.features.head.geometry.equalsExact(Wkt.read("POINT (5 5)")))
  }

  test("random multi-geometry fuzz round trip") {
    val rnd = new Random(13)
    def randPts(n: Int): Array[Coordinate] =
      Array.fill(n)(new Coordinate(rnd.nextInt(4096).toDouble, rnd.nextInt(4096).toDouble))
    (1 to 100).foreach { _ =>
      val g: Geometry = rnd.nextInt(3) match {
        case 0 => Geo.factory.createMultiPointFromCoords(randPts(1 + rnd.nextInt(8)).distinct)
        case 1 =>
          val lines = Array.fill(1 + rnd.nextInt(4)) {
            val pts = randPts(2 + rnd.nextInt(6))
            Geo.factory.createLineString(dedupe(pts))
          }.filter(_.getNumPoints >= 2)
          if (lines.isEmpty) Geo.point(1, 1) else Geo.factory.createMultiLineString(lines)
        case 2 =>
          val x = rnd.nextInt(3000); val y = rnd.nextInt(3000)
          Geo.box(x.toDouble, y.toDouble, (x + 10 + rnd.nextInt(500)).toDouble, (y + 10 + rnd.nextInt(500)).toDouble)
      }
      val tile = MvtTile(Seq(MvtLayer("l", 4096, 2, Seq(MvtFeature(None, g, Seq.empty)))))
      val back = roundTrip(tile).layers.head.features.head.geometry
      // MVT can't distinguish single-part multi geometries from simple ones
      def unwrap(x: Geometry): Geometry =
        if (x.getNumGeometries == 1 && x.isInstanceOf[GeometryCollection]) x.getGeometryN(0) else x
      assert(unwrap(back).norm().equalsExact(unwrap(g).norm(), 0.5),
        s"fuzz mismatch: ${Wkt.write(g)} -> ${Wkt.write(back)}")
    }
  }

  test("a 100k-vertex line and a 2k-feature layer round trip in linear time") {
    // a lawnmower path over 100 rows of 1000 columns: every vertex distinct
    val line = Geo.factory.createLineString(Array.tabulate(100000) { i =>
      val (row, col) = (i / 1000, i % 1000)
      new Coordinate((if (row % 2 == 0) col else 999 - col).toDouble, row.toDouble)
    })
    val points = (0 until 2000).map(i => MvtFeature(Some(i.toLong), Geo.point(i % 64 * 60.0, i / 64 * 60.0),
      Seq(s"k${i % 50}" -> MvtValue.I64(i), "name" -> MvtValue.Str(s"f$i"))))
    val tile = MvtTile(Seq(
      MvtLayer("line", 4096, 2, Seq(MvtFeature(Some(1L), line, Seq.empty))),
      MvtLayer("points", 4096, 2, points)))
    val t0 = System.nanoTime()
    val back = roundTrip(tile)
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(back.layers.map(_.name) === Seq("line", "points"))
    assert(back.layers.head.features.head.geometry.equalsExact(line))
    assert(back.layers(1).features === points)
    // a decoder that indexes a linked list by position takes minutes here
    assert(seconds < 10, s"round trip took $seconds s")
  }

  private def dedupe(pts: Array[Coordinate]): Array[Coordinate] =
    pts.foldLeft(Vector.empty[Coordinate]) { (acc, c) =>
      if (acc.nonEmpty && acc.last.equals2D(c)) acc else acc :+ c
    }.toArray

  test("reference fixture tiles decode and re-encode losslessly") {
    // RETRIEVED PUBLIC CONTENT: reference repo data fixtures, read-only
    val dir = new java.io.File("/root/reference/data")
    val fixtures = Seq("onepoint.mvt", "linestring.mvt", "polygon.mvt", "roads.mvt")
      .map(n => new java.io.File(dir, n)).filter(_.exists)
    assert(fixtures.nonEmpty, "no reference fixtures found")
    fixtures.foreach { file =>
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val tile = Mvt.decode(bytes)
      assert(tile.layers.nonEmpty, s"${file.getName}: no layers")
      val total = tile.layers.map(_.features.size).sum
      assert(total > 0, s"${file.getName}: no features")
      // re-encode -> decode -> identical geometry + attrs per layer
      val again = Mvt.decode(Mvt.encode(tile))
      assert(again.layers.map(_.name) === tile.layers.map(_.name))
      tile.layers.zip(again.layers).foreach { case (a, b) =>
        assert(a.extent === b.extent)
        assert(a.features.size === b.features.size, s"${file.getName}/${a.name} feature count")
        a.features.zip(b.features).foreach { case (fa, fb) =>
          assert(fa.geometry.norm().equalsExact(fb.geometry.norm()), s"${file.getName}/${a.name} geometry")
          assert(fa.attrs.toMap === fb.attrs.toMap, s"${file.getName}/${a.name} attrs")
          assert(fa.id === fb.id)
        }
      }
    }
  }

  test("tile-local transform maps tile corners to [0, extent]") {
    val z = 10; val x = 511; val y = 340
    val env = vps.geom.TileMath.tileEnvelopeLatLng(z, x, y)
    val t = TileBuilder.lonLatToTile(z, x, y)
    val nw = t.transform(Geo.point(env.getMinX, env.getMaxY))
    val se = t.transform(Geo.point(env.getMaxX, env.getMinY))
    assert(math.abs(nw.getCoordinate.x) < 1e-6 && math.abs(nw.getCoordinate.y) < 1e-6)
    assert(math.abs(se.getCoordinate.x - 4096) < 1e-6 && math.abs(se.getCoordinate.y - 4096) < 1e-6)
  }

  test("buildLayer orders polygons area-desc before lines and points") {
    val big = feat("POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))")
    val small = feat("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    val line = feat("LINESTRING (0 0, 5 5)")
    val pt = feat("POINT (1 1)")
    val layer = TileBuilder.buildLayer("l", Seq(pt, small, line, big), orderAreas = true)
    assert(layer.features.map(_.geometry.getGeometryType) ===
      Seq("Polygon", "Polygon", "LineString", "Point"))
    assert(layer.features.head.geometry.getArea === 10000.0)
  }

  test("raw pre-encoded layer bytes match the MvtFeature path byte-for-byte") {
    val fixtures: Seq[(Long, String)] = Seq(
      5L -> "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0), (20 20, 40 20, 40 40, 20 40, 20 20))",
      2L -> "LINESTRING (0 0, 50 25, 100 50)",
      9L -> "POINT (25 17)",
      1L -> "POINT (99 3)",
      7L -> "POLYGON ((10 10, 30 10, 30 30, 10 30, 10 10))",
      3L -> "MULTIPOINT ((1 1), (2 2))")
    Seq(false, true).foreach { orderAreas =>
      val sorted = fixtures.sortBy(_._1)
      val viaModel = Mvt.encode(MvtTile(Seq(TileBuilder.buildLayer("features",
        sorted.map { case (id, w) =>
          MvtFeature(Some(id), Wkt.read(w), Seq("id" -> MvtValue.I64(id)))
        }, 4096, orderAreas))))
      val raw = sorted.map { case (id, w) =>
        val g = Wkt.read(w)
        val (t, payload) = Mvt.encodeGeometryPacked(g)
        Mvt.RawFeature(id, t, payload, if (orderAreas) g.getArea else 0.0)
      }
      val viaRaw = Mvt.encodeTileFromLayerBytes(Seq(
        Mvt.encodeLayerRawBytes("features", 4096,
          TileBuilder.orderRawFeatures(raw, orderAreas))))
      assert(viaRaw.toSeq === viaModel.toSeq, s"orderAreas=$orderAreas")
    }
  }
}

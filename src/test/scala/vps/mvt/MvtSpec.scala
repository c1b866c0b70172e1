package vps.mvt

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
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

  /** A tile written by hand from the public MVT 2.1 spec, never by our encoder: field tags
    * from `vector_tile.proto`, geometry command streams from §4.3.5 "Example Geometry
    * Encodings". Each length prefix counts the bytes of its own message. All varints are
    * one byte except the extents, `uint_value` 300 and the ten-byte negative `int_value`.
    */
  private val specTile: Array[Byte] = Array[Int](
    0x1a, 0x57,                                   // Tile.layers, 87 bytes
      0x78, 0x02,                                 //   version 2
      0x0a, 0x06, 'p', 'o', 'i', 'n', 't', 's',   //   name "points"
      0x12, 0x0f,                                 //   features, 15 bytes
        0x08, 0x01,                               //     id 1
        0x12, 0x04, 0x00, 0x00, 0x01, 0x01,       //     tags name=park, rank=-1
        0x18, 0x01,                               //     type POINT
        0x22, 0x03, 9, 50, 34,                    //     geometry: Point
      0x12, 0x11,                                 //   features, 17 bytes
        0x08, 0x02,                               //     id 2
        0x12, 0x04, 0x00, 0x00, 0x01, 0x02,       //     tags name=park, rank=300
        0x18, 0x01,                               //     type POINT
        0x22, 0x05, 17, 10, 14, 3, 9,             //     geometry: MultiPoint
      0x1a, 0x04, 'n', 'a', 'm', 'e',             //   keys[0]
      0x1a, 0x04, 'r', 'a', 'n', 'k',             //   keys[1]
      0x22, 0x06, 0x0a, 0x04, 'p', 'a', 'r', 'k', //   values[0] string_value "park"
      0x22, 0x0b, 0x20,                           //   values[1] int_value -1 (ten-byte varint)
        0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0x01,
      0x22, 0x03, 0x28, 0xac, 0x02,               //   values[2] uint_value 300
      0x28, 0x80, 0x20,                           //   extent 4096
    0x1a, 0x61,                                   // Tile.layers, 97 bytes
      0x78, 0x02,                                 //   version 2
      0x0a, 0x05, 'l', 'i', 'n', 'e', 's',        //   name "lines"
      0x12, 0x14,                                 //   features, 20 bytes
        0x08, 0x03,                               //     id 3
        0x12, 0x04, 0x00, 0x00, 0x01, 0x01,       //     tags width=1.5f, oneway=true
        0x18, 0x02,                               //     type LINESTRING
        0x22, 0x08, 9, 4, 4, 18, 0, 16, 16, 0,    //     geometry: LineString
      0x12, 0x18,                                 //   features, 24 bytes
        0x08, 0x04,                               //     id 4
        0x12, 0x02, 0x00, 0x02,                   //     tags width=2.5
        0x18, 0x02,                               //     type LINESTRING
        0x22, 0x0e,                               //     geometry: MultiLineString
          9, 4, 4, 18, 0, 16, 16, 0, 9, 17, 17, 10, 4, 8,
      0x1a, 0x05, 'w', 'i', 'd', 't', 'h',        //   keys[0]
      0x1a, 0x06, 'o', 'n', 'e', 'w', 'a', 'y',   //   keys[1]
      0x22, 0x05, 0x15, 0x00, 0x00, 0xc0, 0x3f,   //   values[0] float_value 1.5 (0x3fc00000 LE)
      0x22, 0x02, 0x38, 0x01,                     //   values[1] bool_value true
      0x22, 0x09, 0x19,                           //   values[2] double_value 2.5 (0x4004000000000000 LE)
        0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x04, 0x40,
      0x28, 0x80, 0x04,                           //   extent 512
    0x1a, 0x56,                                   // Tile.layers, 86 bytes
      0x78, 0x02,                                 //   version 2
      0x0a, 0x08, 'p', 'o', 'l', 'y', 'g', 'o', 'n', 's', // name "polygons"
      0x12, 0x13,                                 //   features, 19 bytes
        0x08, 0x05,                               //     id 5
        0x12, 0x02, 0x00, 0x00,                   //     tags level=-3
        0x18, 0x03,                               //     type POLYGON
        0x22, 0x09, 9, 6, 12, 18, 10, 12, 24, 44, 15, // geometry: Polygon
      0x12, 0x25,                                 //   features, 37 bytes: no id, no tags
        0x18, 0x03,                               //     type POLYGON
        0x22, 0x21,                               //     geometry: MultiPolygon, 33 varints
          9, 0, 0, 26, 20, 0, 0, 20, 19, 0, 15,
          9, 22, 2, 26, 18, 0, 0, 18, 17, 0, 15,
          9, 4, 13, 26, 0, 8, 8, 0, 0, 7, 15,
      0x1a, 0x05, 'l', 'e', 'v', 'e', 'l',        //   keys[0]
      0x22, 0x02, 0x30, 0x05,                     //   values[0] sint_value -3 (zigzag 5)
      0x28, 0x80, 0x02                            //   extent 256
  ).map(_.toByte)

  /** What the spec states `specTile` holds: per layer (name, extent), then per feature
    * (id, geometry, attributes). The geometries are §4.3.5's decodings of its streams. */
  private val specTileContent: Seq[((String, Int), Seq[(Option[Long], String, Map[String, MvtValue])])] = Seq(
    ("points", 4096) -> Seq(
      (Some(1L), "POINT (25 17)", Map("name" -> MvtValue.Str("park"), "rank" -> MvtValue.I64(-1))),
      (Some(2L), "MULTIPOINT ((5 7), (3 2))", Map("name" -> MvtValue.Str("park"), "rank" -> MvtValue.U64(300)))),
    ("lines", 512) -> Seq(
      (Some(3L), "LINESTRING (2 2, 2 10, 10 10)",
        Map("width" -> MvtValue.F32(1.5f), "oneway" -> MvtValue.Bool(true))),
      (Some(4L), "MULTILINESTRING ((2 2, 2 10, 10 10), (1 1, 3 5))", Map("width" -> MvtValue.F64(2.5)))),
    ("polygons", 256) -> Seq(
      (Some(5L), "POLYGON ((3 6, 8 12, 20 34, 3 6))", Map("level" -> MvtValue.S64(-3))),
      (None, "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), " +
        "((11 11, 20 11, 20 20, 11 20, 11 11), (13 13, 13 17, 17 17, 17 13, 13 13)))", Map.empty)))

  test("reference fixture tiles decode and re-encode losslessly") {
    // the spec-derived tile always; RETRIEVED PUBLIC CONTENT: reference repo data fixtures,
    // read-only, wherever they exist
    val dir = new java.io.File("/root/reference/data")
    val fixtures: Seq[(String, Array[Byte])] = ("spec-4.3.5" -> specTile) +:
      Seq("onepoint.mvt", "linestring.mvt", "polygon.mvt", "roads.mvt")
        .map(n => new java.io.File(dir, n)).filter(_.exists)
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath))
    assert(fixtures.nonEmpty, "no reference fixtures found")

    // the spec-derived tile decodes to the content the spec states for it
    val spec = Mvt.decode(specTile)
    assert(spec.layers.map(l => (l.name, l.extent, l.version)) ===
      specTileContent.map { case ((name, extent), _) => (name, extent, 2) })
    spec.layers.zip(specTileContent).foreach { case (layer, (_, expected)) =>
      assert(layer.features.size === expected.size, s"spec/${layer.name} feature count")
      layer.features.zip(expected).foreach { case (f, (id, wkt, attrs)) =>
        assert(f.geometry.equalsExact(Wkt.read(wkt)), s"spec/${layer.name}: got ${Wkt.write(f.geometry)}, want $wkt")
        assert(f.attrs.toMap === attrs, s"spec/${layer.name} attrs of $wkt")
        assert(f.id === id)
      }
    }

    fixtures.foreach { case (name, bytes) =>
      val tile = Mvt.decode(bytes)
      assert(tile.layers.nonEmpty, s"$name: no layers")
      val total = tile.layers.map(_.features.size).sum
      assert(total > 0, s"$name: no features")
      // re-encode -> decode -> identical geometry + attrs per layer
      val again = Mvt.decode(Mvt.encode(tile))
      assert(again.layers.map(_.name) === tile.layers.map(_.name))
      tile.layers.zip(again.layers).foreach { case (a, b) =>
        assert(a.extent === b.extent)
        assert(a.features.size === b.features.size, s"$name/${a.name} feature count")
        a.features.zip(b.features).foreach { case (fa, fb) =>
          assert(fa.geometry.norm().equalsExact(fb.geometry.norm()), s"$name/${a.name} geometry")
          assert(fa.attrs.toMap === fb.attrs.toMap, s"$name/${a.name} attrs")
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

  test("UNKNOWN (type 0) features are dropped on decode, so a decoded tile re-encodes") {
    // written by hand: one layer "l" holding the same point geometry ([9, 50, 34],
    // POINT (25 17)) as an UNKNOWN feature, a POINT feature and a feature without
    // a type field (the proto default, UNKNOWN)
    val tile = Array[Int](
      0x1a, 0x27,                               // Tile.layers, 39 bytes
        0x78, 0x02,                             //   version 2
        0x0a, 0x01, 'l',                        //   name "l"
        0x12, 0x09,                             //   features, 9 bytes
          0x08, 0x01,                           //     id 1
          0x18, 0x00,                           //     type UNKNOWN
          0x22, 0x03, 9, 50, 34,                //     geometry
        0x12, 0x09,                             //   features, 9 bytes
          0x08, 0x02,                           //     id 2
          0x18, 0x01,                           //     type POINT
          0x22, 0x03, 9, 50, 34,                //     geometry
        0x12, 0x07,                             //   features, 7 bytes
          0x08, 0x03,                           //     id 3, no type
          0x22, 0x03, 9, 50, 34,                //     geometry
        0x28, 0x80, 0x20                        //   extent 4096
    ).map(_.toByte)
    val decoded = Mvt.decode(tile)
    assert(decoded.layers.map(l => (l.name, l.extent)) === Seq(("l", 4096)))
    val feats = decoded.layers.head.features
    assert(feats.map(_.id) === Seq(Some(2L)))
    assert(feats.head.geometry.equalsExact(Wkt.read("POINT (25 17)")))
    assert(roundTrip(decoded) === decoded)
  }

  test("property: decode after encode returns random integer-grid geometries") {
    val f = Geo.factory
    val coord = Gen.zip(Gen.choose(0, 4096), Gen.choose(0, 4096)).map { case (x, y) => new Coordinate(x, y) }
    val line = Gen.choose(2, 12).flatMap(Gen.listOfN(_, coord))
      .map(cs => dedupe(cs.toArray)).suchThat(_.length >= 2).map(f.createLineString)
    // a rectangle with or without a hole strictly inside it, placed in one
    // 1024-wide grid cell so that the parts of a multipolygon are disjoint
    def rect(cell: Int): Gen[Polygon] = for {
      x <- Gen.choose(0, 900); y <- Gen.choose(0, 900)
      w <- Gen.choose(3, 120); h <- Gen.choose(3, 120); hole <- Gen.oneOf(true, false)
    } yield {
      val (x0, y0) = ((cell % 4) * 1024.0 + x, (cell / 4) * 1024.0 + y)
      val shell = Geo.box(x0, y0, x0 + w, y0 + h).getExteriorRing.asInstanceOf[LinearRing]
      val holes = if (hole) Array(Geo.box(x0 + 1, y0 + 1, x0 + w - 1, y0 + h - 1).getExteriorRing.asInstanceOf[LinearRing])
        else Array.empty[LinearRing]
      f.createPolygon(shell, holes)
    }
    val triangle = Gen.listOfN(3, coord).suchThat { cs =>
      val Seq(a, b, c) = cs
      (b.x - a.x) * (c.y - a.y) != (c.x - a.x) * (b.y - a.y)
    }.map(cs => f.createPolygon((cs :+ cs.head).toArray))
    val geometry: Gen[Geometry] = Gen.oneOf(
      coord.map(f.createPoint),
      Gen.choose(2, 8).flatMap(Gen.listOfN(_, coord)).map(cs => f.createMultiPointFromCoords(cs.distinct.toArray)),
      line,
      Gen.choose(2, 4).flatMap(Gen.listOfN(_, line)).map(ls => f.createMultiLineString(ls.toArray)),
      Gen.oneOf(triangle, Gen.choose(0, 15).flatMap(rect)),
      Gen.choose(2, 5).flatMap(n => Gen.sequence[Seq[Polygon], Polygon]((0 until n).map(rect)))
        .map(ps => f.createMultiPolygon(ps.toArray)))
    // MVT cannot tell a one-part multi geometry from a simple one
    def unwrap(g: Geometry): Geometry =
      if (g.getNumGeometries == 1 && g.isInstanceOf[GeometryCollection]) g.getGeometryN(0) else g
    val prop = Prop.forAll(geometry) { g =>
      val back = roundTrip(MvtTile(Seq(MvtLayer("l", 4096, 2, Seq(MvtFeature(Some(1L), g, Seq.empty))))))
        .layers.head.features.head.geometry
      Prop(unwrap(back).norm().equalsExact(unwrap(g).norm())) :| s"${Wkt.write(g)} -> ${Wkt.write(back)}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(500)
      .withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}

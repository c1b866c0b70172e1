package vps.sql

import org.scalatest.funsuite.AnyFunSuite
import vps.SparkTestSession
import vps.geom.{CellId, TileMath}
import vps.sql.functions._

class GeomExpressionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("st_point / st_x / st_y / st_asText round trip through a plan") {
    val df = Seq((12.5, -33.25)).toDF("lon", "lat")
      .select(st_point($"lon", $"lat").as("g"))
    val (x, y, wkt) = df.select(st_x($"g"), st_y($"g"), st_asText($"g"))
      .as[(Double, Double, String)].head()
    assert(x === 12.5 && y === -33.25)
    assert(wkt === "POINT (12.5 -33.25)")
  }

  test("st_geomFromWKT handles polygons and bad input") {
    val df = Seq("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "garbage").toDF("wkt")
      .select(st_geomFromWKT($"wkt").as("g"))
    val rows = df.select(st_area($"g"), $"g".isNull).as[(Option[Double], Boolean)].collect()
    assert(rows(0) === ((Some(16.0), false)))
    assert(rows(1)._2 === true)
  }

  test("tile_x / tile_y / cell_at agree with the Scala kernels and codegen") {
    val df = spark.range(0, 1000).select(
      (rand(7) * 340 - 170).as("lon"),
      (rand(11) * 160 - 80).as("lat"))
    val bad = df.select($"lon", $"lat",
      tile_x($"lon", 12).as("tx"), tile_y($"lat", 12).as("ty"),
      cell_at($"lon", $"lat", 12).as("cell"))
      .as[(Double, Double, Int, Int, Long)]
      .collect()
      .count { case (lon, lat, tx, ty, cell) =>
        tx != TileMath.tileX(lon, 12) || ty != TileMath.tileY(lat, 12) ||
          cell != CellId.fromLonLat(lon, lat, 12)
      }
    assert(bad === 0)
  }

  test("tile_keys explodes to covering keys; parent_tile_keys halves") {
    val df = Seq("POLYGON ((-1 -1, 1 -1, 1 1, -1 1, -1 -1))").toDF("wkt")
      .select(st_geomFromWKT($"wkt").as("g"))
    val keys = df.select(explode(tile_keys($"g", 8)).as("k"))
      .select($"k.x", $"k.y").as[(Int, Int)].collect().toSet
    assert(keys === Set((127, 127), (127, 128), (128, 127), (128, 128)))
    val parents = df.select(explode(parent_tile_keys(tile_keys($"g", 8))).as("k"))
      .select($"k.x", $"k.y").as[(Int, Int)].collect().toSet
    assert(parents === Set((63, 63), (63, 64), (64, 63), (64, 64)))
  }

  test("cell_kring and cell_parent") {
    val df = Seq((10.0, 45.0)).toDF("lon", "lat")
      .select(cell_at($"lon", $"lat", 12).as("c"))
    val n = df.select(explode(cell_kring($"c", 2))).count()
    assert(n === 25)
    val (c, p) = df.select($"c", cell_parent($"c", 8)).as[(Long, Long)].head()
    assert(CellId.level(p) === 8 && CellId.x(p) === CellId.x(c) >> 4)
  }

  test("st_contains / st_intersects / st_distance") {
    val df = Seq((
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (5 5)", "POINT (20 5)"))
      .toDF("poly", "inside", "outside")
      .select(st_geomFromWKT($"poly").as("poly"),
        st_geomFromWKT($"inside").as("in"), st_geomFromWKT($"outside").as("out"))
    val (cIn, cOut, d) = df.select(
      st_contains($"poly", $"in"), st_contains($"poly", $"out"),
      st_distance($"poly", $"out")).as[(Boolean, Boolean, Double)].head()
    assert(cIn && !cOut && d === 10.0)
  }

  test("malformed WKT: rows kept as nulls, error channel counts them") {
    val ch = vps.geom.GeomErrors.channel(spark, "wkt-test")
    val rows = Seq("POINT (1 2)", "garbage", "LINESTRING(bad", "POINT (3 4)").toDF("wkt")
      .select(st_geomFromWKT($"wkt", ch).as("g"))
      .collect() // ONE evaluation: accumulator ticks once per malformed row
    assert(rows.length === 4, "malformed rows must not be dropped")
    assert(rows.count(_.isNullAt(0)) === 2)
    assert(ch.count === 2)
  }

  test("WKT with a NaN or infinite coordinate is malformed: null geometry, one tick per row") {
    val wkts = Seq("POLYGON ((0 0, 10 0, NaN 10, 0 10, 0 0))", "POINT (Infinity 1)",
      "LINESTRING (0 0, 1 -Infinity)", "POINT (1 2)")
    val plain = wkts.toDF("wkt").select(st_geomFromWKT($"wkt").as("g")).collect()
    assert(plain.map(_.isNullAt(0)).toSeq === Seq(true, true, true, false))
    val ch = vps.geom.GeomErrors.channel(spark, "wkt-nonfinite")
    val counted = wkts.toDF("wkt").select(st_geomFromWKT($"wkt", ch).as("g")).collect()
    assert(counted.map(_.isNullAt(0)).toSeq === Seq(true, true, true, false))
    assert(ch.count === 3)
  }

  test("malformed WKT from a non-nullable child becomes null inside an executor task") {
    // a non-nullable child (when/otherwise over literals) over a parallelized
    // frame, so the projection runs in tasks and is not folded on the driver
    val ids = spark.sparkContext.parallelize(0 until 40, 4).toDF("id")
    val wkt = when($"id" % 2 === 0, "POINT (1 2)").otherwise("POINT (1")
    assert(!ids.select(wkt).schema.head.nullable)
    val geoms = ids.select(st_geomFromWKT(wkt).as("g"))
    assert(geoms.schema.head.nullable)
    val rows = geoms.collect()
    assert(rows.length === 40)
    assert(rows.count(_.isNullAt(0)) === 20)
  }

  test("clip failure channel stays silent on clean clips") {
    val ch = vps.geom.GeomErrors.channel(spark, "clip-test")
    val z = 8; val x = 128; val y = 128
    val env = TileMath.tileEnvelopeLatLng(z, x, y)
    val midLat = (env.getMinY + env.getMaxY) / 2
    Seq(s"LINESTRING (-10 $midLat, 10 $midLat)").toDF("wkt")
      .select(st_clipToTile(st_geomFromWKT($"wkt"), lit(z), lit(x), lit(y), ch).as("g"))
      .collect()
    assert(ch.count === 0)
  }

  test("st_within argument order: st_within(a, b) means 'a within b' (PostGIS)") {
    val df = Seq(("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (5 5)"))
      .toDF("poly", "pt")
      .select(st_geomFromWKT($"poly").as("poly"), st_geomFromWKT($"pt").as("pt"))
    val (ptInPoly, polyInPt) = df.select(
      st_within($"pt", $"poly"), st_within($"poly", $"pt")).as[(Boolean, Boolean)].head()
    assert(ptInPoly, "point must be within polygon")
    assert(!polyInPt, "polygon must NOT be within point")
  }

  test("st_clipToTile and st_simplify inside a plan") {
    val z = 8; val x = 128; val y = 128
    val env = TileMath.tileEnvelopeLatLng(z, x, y)
    // a horizontal line crossing the whole tile at mid-height
    val midLat = (env.getMinY + env.getMaxY) / 2
    val wkt = s"LINESTRING (-10 $midLat, 10 $midLat)"
    val df = Seq(wkt).toDF("wkt").select(st_geomFromWKT($"wkt").as("g"))
    val clipped = df.select(st_asText(st_clipToTile($"g", lit(z), lit(x), lit(y)))).as[String].head()
    assert(clipped.startsWith("LINESTRING"))
    assert(clipped.contains("0 ")) // starts at tile west edge lon=0
    val simp = df.select(st_numPoints(st_simplify($"g", lit(0.1)))).as[Int].head()
    assert(simp === 2)
  }

  test("SQL registration works") {
    vps.sql.functions.register(spark)
    val r = spark.sql(
      "SELECT tile_x(CAST(-0.1277 AS DOUBLE), 12) AS x, tile_y(CAST(51.5074 AS DOUBLE), 12) AS y, " +
        "st_astext(st_point(CAST(1.5 AS DOUBLE), CAST(2.5 AS DOUBLE))) AS p")
      .as[(Int, Int, String)].head()
    assert(r === ((2046, 1362, "POINT (1.5 2.5)")))
  }

  test("st_reproject: 4326 -> UTM -> 3857 -> 4326 round trip in a plan") {
    val df = Seq((15.5, 47.1)).toDF("lon", "lat")
      .select(st_point($"lon", $"lat").as("g"))
      .select(st_reproject($"g", "EPSG:4326", "EPSG:32633").as("utm"))
    val (e, n) = df.select(st_x($"utm"), st_y($"utm")).as[(Double, Double)].head()
    val (expE, expN) = vps.geom.Proj.lonLatToUtm(15.5, 47.1, 33, south = false)
    assert(math.abs(e - expE) < 1e-6 && math.abs(n - expN) < 1e-6)
    val (lon, lat) = df
      .select(st_reproject($"utm", "EPSG:32633", "EPSG:3857").as("m"))
      .select(st_reproject($"m", "EPSG:3857", "EPSG:4326").as("ll"))
      .select(st_x($"ll"), st_y($"ll")).as[(Double, Double)].head()
    assert(math.abs(lon - 15.5) < 1e-9 && math.abs(lat - 47.1) < 1e-9)
  }

  test("st_make_valid repairs a bowtie; st_is_valid flags it; valid passes through") {
    val bowtie = "POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))" // self-intersecting
    val square = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    val df = Seq((1L, bowtie), (2L, square)).toDF("id", "wkt")
      .select($"id", st_geomFromWKT($"wkt").as("g"))
    val validity = df.select($"id", st_isValid($"g")).as[(Long, Boolean)].collect().toMap
    assert(validity === Map(1L -> false, 2L -> true))
    val fixed = df.select($"id", st_isValid(st_makeValid($"g")),
      st_area(st_makeValid($"g"))).as[(Long, Boolean, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(fixed(1L)._1 && fixed(2L)._1)
    // the bowtie splits into triangles (0,0)-(1,1)-(0,2) and
    // (2,0)-(1,1)-(2,2): area 1 each, total 2
    assert(math.abs(fixed(1L)._2 - 2.0) < 1e-9)
    assert(math.abs(fixed(2L)._2 - 1.0) < 1e-9)
  }

  test("st_union_agg dissolves per group with a bounded buffer") {
    // group A: two overlapping unit squares (union area 1.75) + one disjoint
    // (total 2.75, 2 components); group B: 200 stacked identical squares
    // (area 1) — 200 > BatchSize, so the collapse path is exercised
    val a = Seq(
      ("A", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
      ("A", "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"),
      ("A", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"))
    val b = (0 until 200).map(_ => ("B", "POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"))
    val df = (a ++ b).toDF("k", "wkt").select($"k", st_geomFromWKT($"wkt").as("g"))
      .repartition(4) // force partial buffers + a real merge
    val got = df.groupBy($"k").agg(st_union_agg($"g").as("u"))
      .select($"k", st_area($"u"), st_asWKB($"u"))
      .as[(String, Double, Array[Byte])].collect()
      .map(r => r._1 -> (r._2, vps.geom.Wkb.read(r._3))).toMap
    assert(math.abs(got("A")._1 - 2.75) < 1e-9)
    assert(got("A")._2.getNumGeometries === 2) // multipolygon: merged pair + island
    assert(math.abs(got("B")._1 - 1.0) < 1e-9)
    // SQL surface
    df.createOrReplaceTempView("diss")
    vps.sql.functions.register(spark)
    val viaSql = spark.sql("SELECT k, st_area(st_union_agg(g)) FROM diss GROUP BY k")
      .as[(String, Double)].collect().toMap
    assert(math.abs(viaSql("A") - 2.75) < 1e-9 && math.abs(viaSql("B") - 1.0) < 1e-9)
  }

  test("st_union_agg cluster path: shared edges dissolve, disjoint mega-group stays exact") {
    // row of 6 unit boxes sharing edges -> ONE 6x1 polygon (the cluster-union
    // concat must NOT skip the real overlay where boundaries touch), plus a
    // 4097-box disjoint grid in the same frame (> 64 batches -> several tier
    // carries): exact area and component count survive the tiered collapse
    val strip = (0 until 6).map(i => ("S", s"POLYGON (($i 0, ${i + 1} 0, ${i + 1} 1, $i 1, $i 0))"))
    val grid = (0 until 4097).map { i =>
      val x = (i % 64) * 2; val y = (i / 64) * 2
      ("G", s"POLYGON (($x $y, ${x + 1} $y, ${x + 1} ${y + 1}, $x ${y + 1}, $x $y))")
    }
    val df = (strip ++ grid).toDF("k", "wkt")
      .select($"k", st_geomFromWKT($"wkt").as("g")).repartition(8)
    val got = df.groupBy($"k").agg(st_union_agg($"g").as("u"))
      .select($"k", st_area($"u"), st_numGeometries($"u"))
      .as[(String, Double, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(math.abs(got("S")._1 - 6.0) < 1e-9 && got("S")._2 === 1)
    assert(math.abs(got("G")._1 - 4097.0) < 1e-9 && got("G")._2 === 4097)
  }

  test("clusterUnion equals UnaryUnionOp on random overlapping/disjoint mixes (seeded property)") {
    val gf = vps.geom.Geo.factory
    val rnd = new scala.util.Random(1234)
    (0 until 20).foreach { round =>
      val n = 5 + rnd.nextInt(40)
      val geoms: Seq[org.locationtech.jts.geom.Geometry] = (0 until n).map { _ =>
        val x = rnd.nextDouble() * 20
        val y = rnd.nextDouble() * 20
        val w = 0.5 + rnd.nextDouble() * 3 // sizes force a mix of overlap + isolation
        vps.geom.Geo.box(x, y, x + w, y + w * (0.5 + rnd.nextDouble()))
      }
      val viaCluster = vps.sql.StUnionAgg.clusterUnion(geoms).norm()
      val coll = new java.util.ArrayList[org.locationtech.jts.geom.Geometry](n)
      geoms.foreach(coll.add)
      val viaJts = org.locationtech.jts.operation.union.UnaryUnionOp.union(coll).norm()
      assert(math.abs(viaCluster.getArea - viaJts.getArea) < 1e-9, s"round $round area")
      assert(viaCluster.getNumGeometries === viaJts.getNumGeometries, s"round $round components")
      // topological equality up to FP noise: symmetric difference ~ empty
      assert(viaCluster.symDifference(viaJts).getArea < 1e-9, s"round $round symdiff")
    }
  }

  test("binary overlay ops + envelope/boundary: exact areas through plans and SQL") {
    // overlapping unit squares: |A| = |B| = 1, |A inter B| = 0.25,
    // |A union B| = 1.75, |A \ B| = 0.75, |A xor B| = 1.5
    val df = Seq((
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
      "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))")).toDF("wa", "wb")
      .select(st_geomFromWKT($"wa").as("a"), st_geomFromWKT($"wb").as("b"))
    val row = df.select(
      st_area(st_intersection($"a", $"b")),
      st_area(st_union($"a", $"b")),
      st_area(st_difference($"a", $"b")),
      st_area(st_symDifference($"a", $"b")),
      st_area(st_envelope(st_union($"a", $"b"))),
      st_length(st_boundary($"a"))).as[(Double, Double, Double, Double, Double, Double)].head()
    assert(math.abs(row._1 - 0.25) < 1e-9 && math.abs(row._2 - 1.75) < 1e-9)
    assert(math.abs(row._3 - 0.75) < 1e-9 && math.abs(row._4 - 1.5) < 1e-9)
    assert(math.abs(row._5 - 2.25) < 1e-9) // envelope of the union: 1.5 x 1.5
    assert(math.abs(row._6 - 4.0) < 1e-9) // square boundary perimeter
    // SQL surface
    df.createOrReplaceTempView("ovl")
    vps.sql.functions.register(spark)
    val viaSql = spark.sql(
      "SELECT st_area(st_intersection(a, b)), st_area(st_symdifference(a, b)) FROM ovl")
      .as[(Double, Double)].head()
    assert(math.abs(viaSql._1 - 0.25) < 1e-9 && math.abs(viaSql._2 - 1.5) < 1e-9)
    // disjoint + empty-result branches
    val disjoint = Seq(("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
      "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))")).toDF("wa", "wb")
      .select(st_geomFromWKT($"wa").as("a"), st_geomFromWKT($"wb").as("b"))
    val dj = disjoint.select(
      st_isEmpty(st_intersection($"a", $"b")), st_numGeometries(st_union($"a", $"b")))
      .as[(Boolean, Int)].head()
    assert(dj === ((true, 2)))
  }

  test("st_buffer and st_convex_hull") {
    val df = Seq("POINT (10 10)").toDF("wkt").select(st_geomFromWKT($"wkt").as("g"))
    // default JTS quadrant segments (8): buffer area is slightly under pi*r^2
    val area = df.select(st_area(st_buffer($"g", lit(2.0)))).as[Double].head()
    assert(area > 0.97 * math.Pi * 4 && area <= math.Pi * 4, s"buffer area $area")
    // negative buffer shrinks: a 4x4 square shrunk by 1 leaves a 2x2 core
    val sq = Seq("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))").toDF("wkt")
      .select(st_geomFromWKT($"wkt").as("g"))
    assert(math.abs(sq.select(st_area(st_buffer($"g", lit(-1.0)))).as[Double].head() - 4.0) < 1e-9)
    // hull of an L-shaped multipoint is the bounding triangle-ish hull
    val pts = Seq("MULTIPOINT ((0 0), (4 0), (0 4), (1 1))").toDF("wkt")
      .select(st_geomFromWKT($"wkt").as("g"))
    val hullArea = pts.select(st_area(st_convexHull($"g"))).as[Double].head()
    assert(math.abs(hullArea - 8.0) < 1e-9) // triangle (0,0)(4,0)(0,4)
  }

  test("reprojection closed forms") {
    val df = Seq("POINT (10 45)").toDF("wkt").select(st_geomFromWKT($"wkt").as("g"))
    val (mx, my) = df.select(st_x(st_toWebMercator($"g")), st_y(st_toWebMercator($"g")))
      .as[(Double, Double)].head()
    assert(math.abs(mx - TileMath.lonToMercX(10)) < 1e-6)
    assert(math.abs(my - TileMath.latToMercY(45)) < 1e-6)
    val (lon, lat) = df.select(
      st_x(st_toLonLat(st_toWebMercator($"g"))), st_y(st_toLonLat(st_toWebMercator($"g"))))
      .as[(Double, Double)].head()
    assert(math.abs(lon - 10) < 1e-9 && math.abs(lat - 45) < 1e-9)
  }
}

package vps.raster

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import vps.SparkTestSession
import vps.geom.TileMath
import vps.sql.functions._

class RasterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("rasterize points: per-cell counts match direct binning; totals preserved") {
    val docs = vps.docs.InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    val pts = vps.docs.InterleavedDocs.extractGeoSpans(docs)
      .select(($"id" * 10 + $"span_offset").as("id"), $"geom")
    val zoom = 2
    val res = 64
    val tiles = Raster.rasterize(pts, zoom, res).collect()
    assert(tiles.map(_.cells.map(_.toDouble).sum).sum === pts.count().toDouble)
    // spot-check one tile against direct binning
    val t = tiles.maxBy(_.cells.sum)
    val env = TileMath.tileEnvelopeLatLng(zoom, t.x, t.y)
    val binned = pts
      .select(st_x($"geom").as("lon"), st_y($"geom").as("lat"),
        tile_x(st_x($"geom"), zoom).as("tx"), tile_y(st_y($"geom"), zoom).as("ty"))
      .where($"tx" === t.x && $"ty" === t.y)
      .as[(Double, Double, Int, Int)].collect()
    val expected = new Array[Float](res * res)
    binned.foreach { case (lon, lat, _, _) =>
      val i = math.max(0, math.min(res - 1, ((lon - env.getMinX) / (env.getWidth / res)).toInt))
      val j = math.max(0, math.min(res - 1, ((env.getMaxY - lat) / (env.getHeight / res)).toInt))
      expected(j * res + i) += 1
    }
    assert(t.cells.toSeq === expected.toSeq)
  }

  test("rasterize polygon burns intersecting cells; weight column respected") {
    val poly = Seq((1L, "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))", 2.0))
      .toDF("id", "wkt", "wt").select($"id", st_geomFromWKT($"wkt").as("geom"), $"wt")
    val tiles = Raster.rasterize(poly, zoom = 2, resolution = 32, weightCol = Some("wt")).collect()
    assert(tiles.nonEmpty)
    // all burned values are the weight
    assert(tiles.flatMap(_.cells).filter(_ != 0).forall(_ === 2.0f))
    // the polygon covers a contiguous block: at least one tile is substantially burned
    assert(tiles.map(_.cells.count(_ != 0)).max > 100)
  }

  test("grid-shuffle rasterize is byte-equal to the point-shuffle reference") {
    // weights are exactly-representable floats and cells are integer-multiples
    // of them, so float addition is exact in any merge order — byte equality
    // is well-defined across the two shuffle shapes
    val docs = vps.docs.InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    val pts = vps.docs.InterleavedDocs.extractGeoSpans(docs)
      .select(($"id" * 10 + $"span_offset").as("id"), $"geom")
    def grids(ds: org.apache.spark.sql.Dataset[Raster.RasterTile]) =
      ds.collect().map(t => ((t.x, t.y), t.cells.toSeq)).toMap
    assert(grids(Raster.rasterize(pts, 3, 64)) ===
      grids(RasterOracle.rasterizePointShuffle(pts, 3, 64)))

    val poly = Seq(
      (1L, "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))", 2.5),
      (2L, "LINESTRING (-30 -30, 20 15)", 0.5))
      .toDF("id", "wkt", "wt").select($"id", st_geomFromWKT($"wkt").as("geom"), $"wt")
    assert(grids(Raster.rasterize(poly, 2, 32, weightCol = Some("wt"))) ===
      grids(RasterOracle.rasterizePointShuffle(poly, 2, 32, weightCol = Some("wt"))))

    // float-UNREPRESENTABLE weights (0.1): cells accumulate in double and
    // round to float once, so the two shuffle shapes (different merge orders)
    // still agree byte-for-byte, and the total matches the closed form
    val w01 = pts.withColumn("wt", lit(0.1))
    val a = grids(Raster.rasterize(w01, 3, 64, weightCol = Some("wt")))
    assert(a === grids(RasterOracle.rasterizePointShuffle(w01, 3, 64, weightCol = Some("wt"))))
    val total = a.values.flatten.map(_.toDouble).sum
    assert(math.abs(total - 0.1 * pts.count()) < 1e-3, s"total=$total")
  }

  test("space-partitioned rasterizePoints is byte-equal to rasterize; rejects non-points") {
    val docs = vps.docs.InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    val pts = vps.docs.InterleavedDocs.extractGeoSpans(docs)
      .select(($"id" * 10 + $"span_offset").as("id"), $"geom")
    def grids(ds: org.apache.spark.sql.Dataset[Raster.RasterTile]) =
      ds.collect().map(t => ((t.x, t.y), t.cells.toSeq)).toMap
    assert(grids(Raster.rasterizePoints(pts, 3, 64)) === grids(Raster.rasterize(pts, 3, 64)))
    // float-unrepresentable weights: double accumulation makes the single-build
    // grid and the partial-merged grid round to the same floats
    val w01 = pts.withColumn("wt", lit(0.1))
    assert(grids(Raster.rasterizePoints(w01, 3, 64, weightCol = Some("wt"))) ===
      grids(Raster.rasterize(w01, 3, 64, weightCol = Some("wt"))))
    // the lean cell row cannot represent a multi-cell burn: polygons must fail
    // loudly, not burn their first vertex
    val poly = Seq((1L, "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))"))
      .toDF("id", "wkt").select($"id", st_geomFromWKT($"wkt").as("geom"))
    // thrown in a task (SparkException wrapper) or driver-side when the plan
    // evaluates the projection locally — either way it must name the contract
    val err = intercept[Exception] {
      Raster.rasterizePoints(poly, 2, 32).collect()
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null).take(5)
      .exists(e => Option(e.getMessage).exists(_.contains("POINT geometry required"))))
  }

  test("rasterizePoints on tile/cell boundary points agrees with rasterize byte-for-byte") {
    // adversarial coordinates: exactly on tile edges, cell edges, the
    // antimeridian, poles beyond the mercator clamp, and the clamp latitude
    // itself — the packed-key path computes tile + cell in one closed form
    // and must land every edge case in the same cell as tile_keys + GridBurn
    val zoom = 4
    val res = 16
    val n = vps.geom.TileMath.numTiles(zoom).toDouble
    val lons = Seq(-180.0, -179.9999999, 0.0, 179.9999999, 180.0) ++
      (0 until 16).map(i => i / n * 360.0 - 180.0) ++ // tile edges
      (0 until 16).map(i => (i + 0.5) / n * 360.0 - 180.0)
    val lats = Seq(-90.0, -85.05112877980659, -85.0511287798066, 0.0,
      85.05112877980659, 90.0) ++
      (1 until 16).map(j => math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * j / n)))))
    val pts = lons.zipWithIndex.flatMap { case (lon, i) =>
      lats.zipWithIndex.map { case (lat, j) => ((i * 100 + j).toLong, lon, lat) }
    }
    val df = pts.toDF("id", "lon", "lat")
      .select($"id", st_point($"lon", $"lat").as("geom"))
    def grids(ds: org.apache.spark.sql.Dataset[Raster.RasterTile]) =
      ds.collect().map(t => ((t.x, t.y), t.cells.toSeq)).toMap
    assert(grids(Raster.rasterizePoints(df, zoom, res)) === grids(Raster.rasterize(df, zoom, res)))
  }

  test("scanline burn is byte-identical to the per-cell reference on adversarial geometries") {
    val env = vps.geom.TileMath.tileEnvelopeLatLng(3, 4, 3)
    val res = 64
    val dx = env.getWidth / res
    val dy = env.getHeight / res
    val x0 = env.getMinX; val y1 = env.getMaxY
    def g(wkt: String) = vps.geom.Wkt.read(wkt)
    def run(geom: org.locationtech.jts.geom.Geometry,
        f: (org.locationtech.jts.geom.Geometry, Double, org.locationtech.jts.geom.Envelope,
          Int, Array[Double]) => Unit): Seq[Double] = {
      val cells = new Array[Double](res * res)
      f(geom, 1.5, env, res, cells)
      cells.toSeq
    }
    def poly(pts: (Double, Double)*): String =
      "POLYGON ((" + (pts :+ pts.head).map { case (a, b) => s"$a $b" }.mkString(", ") + "))"

    val cx = x0 + env.getWidth / 2; val cy = env.getMinY + env.getHeight / 2
    val fixtures: Seq[org.locationtech.jts.geom.Geometry] = Seq(
      // box EXACTLY on cell boundaries (the touch-classification stress)
      g(poly((x0 + 8 * dx, y1 - 8 * dy), (x0 + 24 * dx, y1 - 8 * dy),
        (x0 + 24 * dx, y1 - 24 * dy), (x0 + 8 * dx, y1 - 24 * dy))),
      // irregular concave polygon
      g(poly((cx, cy), (cx + 20 * dx, cy + 5 * dy), (cx + 8 * dx, cy + 18 * dy),
        (cx - 3 * dx, cy + 9 * dy), (cx - 15 * dx, cy + 14 * dy))),
      // polygon with a hole
      g(s"POLYGON ((${x0 + 5 * dx} ${y1 - 40 * dy}, ${x0 + 45 * dx} ${y1 - 40 * dy}, " +
        s"${x0 + 45 * dx} ${y1 - 5 * dy}, ${x0 + 5 * dx} ${y1 - 5 * dy}, ${x0 + 5 * dx} ${y1 - 40 * dy}), " +
        s"(${x0 + 15 * dx} ${y1 - 30 * dy}, ${x0 + 35 * dx} ${y1 - 30 * dy}, " +
        s"${x0 + 35 * dx} ${y1 - 15 * dy}, ${x0 + 15 * dx} ${y1 - 15 * dy}, ${x0 + 15 * dx} ${y1 - 30 * dy}))"),
      // multipolygon with a sub-cell island
      g(s"MULTIPOLYGON (((${x0 + 2 * dx} ${y1 - 2 * dy}, ${x0 + 10 * dx} ${y1 - 2 * dy}, " +
        s"${x0 + 10 * dx} ${y1 - 10 * dy}, ${x0 + 2 * dx} ${y1 - 2 * dy})), " +
        s"((${x0 + 50.25 * dx} ${y1 - 50.25 * dy}, ${x0 + 50.75 * dx} ${y1 - 50.25 * dy}, " +
        s"${x0 + 50.5 * dx} ${y1 - 50.75 * dy}, ${x0 + 50.25 * dx} ${y1 - 50.25 * dy})))"),
      // diagonal + horizontal-on-row-boundary lines
      g(s"LINESTRING (${x0 + 0.3 * dx} ${y1 - 0.7 * dy}, ${x0 + 63.2 * dx} ${y1 - 62.1 * dy})"),
      g(s"LINESTRING (${x0 + 5 * dx} ${y1 - 16 * dy}, ${x0 + 60 * dx} ${y1 - 16 * dy})"),
      // polygon bigger than the whole tile
      g(poly((x0 - 10 * dx, y1 + 10 * dy), (x0 + 80 * dx, y1 + 10 * dy),
        (x0 + 80 * dx, y1 - 80 * dy), (x0 - 10 * dx, y1 - 80 * dy))),
      // thin sliver crossing many cells
      g(poly((x0 + 1 * dx, y1 - 1 * dy), (x0 + 62 * dx, y1 - 60 * dy),
        (x0 + 62.1 * dx, y1 - 60 * dy))))

    // seeded random triangles for breadth
    val rnd = new scala.util.Random(42)
    val randomTris = (0 until 25).map { _ =>
      def px = x0 + rnd.nextDouble() * env.getWidth
      def py = env.getMinY + rnd.nextDouble() * env.getHeight
      g(poly((px, py), (px, py), (px, py)))
    }
    (fixtures ++ randomTris).zipWithIndex.foreach { case (geom, idx) =>
      val fixed = if (geom.isValid) geom else geom.convexHull()
      assert(run(fixed, Raster.burnScan) === run(fixed, Raster.burnPerCell),
        s"fixture $idx: ${fixed.getGeometryType}")
    }
  }

  test("invalid (self-intersecting) polygons route through the per-cell reference in burn()") {
    // a bowtie's even-odd centerline parity can diverge from the per-cell JTS
    // answer; burn() must dispatch invalid Polygonal input to burnPerCell so
    // the byte-equality contract holds for ALL inputs, not just valid ones
    val res = 64
    val env = new org.locationtech.jts.geom.Envelope(0.0, 64.0, 0.0, 64.0)
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val rdr = new org.locationtech.jts.io.WKTReader(gf)
    val bowtie = rdr.read("POLYGON ((4 4, 60 60, 60 4, 4 60, 4 4))")
    assert(!bowtie.isValid)
    def run(f: (org.locationtech.jts.geom.Geometry, Double,
        org.locationtech.jts.geom.Envelope, Int, Array[Double]) => Unit): Seq[Double] = {
      val cells = new Array[Double](res * res)
      f(bowtie, 1.0, env, res, cells)
      cells.toSeq
    }
    assert(run(Raster.burn) === run(Raster.burnPerCell))
  }

  test("hot tile: the exchange carries O(partitions) partial grids, not points") {
    val n = 50000
    // all points land in ONE zoom-4 tile (tile width 22.5 deg); 4 input
    // partitions from the range leaf — no auxiliary repartition exchange, so
    // the rasterize aggregation is the job's only shuffle
    val pts = spark.range(0, n, 1, 4).toDF("id")
      .select($"id", st_point(
        lit(1.0) + ($"id" % 1000).cast("double") * 0.0004,
        lit(1.0) + ($"id" / 1000).cast("double") * 0.004).as("geom"))

    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val tiles = Raster.rasterize(pts, zoom = 4, resolution = 64).collect()
      assert(tiles.length === 1)
      assert(tiles.head.cells.map(_.toDouble).sum === n.toDouble)
      // poll until the async listener bus settles
      var last = -1L
      var spins = 0
      while (records.get() != last && spins < 100) {
        last = records.get(); Thread.sleep(100); spins += 1
      }
      assert(records.get() <= 16,
        s"expected <= one partial grid per map partition on the exchange, saw ${records.get()} rows")
      assert(records.get() > 0, "the grid exchange should be observable")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("zonalStats: per-zone aggregates match direct cell math") {
    // deterministic point cloud with weights, rasterized, then two box zones
    val pts = spark.range(0, 4000).toDF("id")
      .select($"id",
        st_point(($"id" % 80).cast("double") - 20.0, ($"id" / 80).cast("double") - 15.0).as("geom"),
        (($"id" % 7) + 1).cast("double").as("wt"))
    val zoom = 3
    val res = 64
    val tiles = Raster.rasterize(pts, zoom, res, weightCol = Some("wt")).cache()
    val zones = Seq((0L, "POLYGON ((-10 -10, 25 -10, 25 12, -10 12, -10 -10))"),
      (1L, "POLYGON ((30 0, 70 0, 70 40, 30 40, 30 0))")) // zone 1 partly empty
      .toDF("zone_id", "wkt").select($"zone_id", st_geomFromWKT($"wkt").as("geom"))
    val got = Raster.zonalStats(tiles, zones)
      .select($"zone_id", $"n_cells", $"sum", $"mean", $"min", $"max")
      .as[(Long, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap

    // direct oracle: iterate every nonzero cell of every tile, test the center
    val zoneBoxes = Map(0L -> (-10.0, -10.0, 25.0, 12.0), 1L -> (30.0, 0.0, 70.0, 40.0))
    val expected = scala.collection.mutable.Map.empty[Long, (Long, Double, Double, Double)]
    tiles.collect().foreach { t =>
      val env = vps.geom.TileMath.tileEnvelopeLatLng(t.zoom, t.x, t.y)
      val dx = env.getWidth / res; val dy = env.getHeight / res
      for (cj <- 0 until res; ci <- 0 until res) {
        val v = t.cells(cj * res + ci)
        if (v != 0f) {
          val cx = env.getMinX + (ci + 0.5) * dx
          val cy = env.getMaxY - (cj + 0.5) * dy
          zoneBoxes.foreach { case (zid, (x0, y0, x1, y1)) =>
            if (cx >= x0 && cx <= x1 && cy >= y0 && cy <= y1) {
              val (n, s, mn, mx) = expected.getOrElse(zid, (0L, 0.0, Double.MaxValue, Double.MinValue))
              expected(zid) = (n + 1, s + v, math.min(mn, v), math.max(mx, v))
            }
          }
        }
      }
    }
    expected.foreach { case (zid, (n, s, mn, mx)) =>
      val (_, gn, gs, gmean, gmn, gmx) = got(zid)
      assert(gn === n, s"zone $zid n_cells")
      assert(math.abs(gs - s) < 1e-6, s"zone $zid sum")
      assert(math.abs(gmean - s / n) < 1e-9, s"zone $zid mean")
      assert(gmn === mn && gmx === mx, s"zone $zid min/max")
    }
    assert(got.keySet === expected.keySet)
    tiles.unpersist()
  }

  test("vectorize(rasterize(box)) recovers the box within a pixel") {
    val box = Seq((1L, "POLYGON ((10 10, 30 10, 30 30, 10 30, 10 10))"))
      .toDF("id", "wkt").select($"id", st_geomFromWKT($"wkt").as("geom"))
    val zoom = 3
    val res = 128
    val tiles = Raster.rasterize(box, zoom, res)
    val polys = Raster.vectorize(tiles).cache()
    assert(polys.count() > 0)
    // union of vectorized pieces covers the original box and not much more
    val pieces = polys.select(st_asWKB($"geom")).as[Array[Byte]].collect()
      .map(vps.geom.Wkb.read)
    val merged = vps.geom.Geo.factory.createGeometryCollection(pieces).union()
    val original = vps.geom.Wkt.read("POLYGON ((10 10, 30 10, 30 30, 10 30, 10 10))")
    val cellSize = 360.0 / (1 << zoom) / res // ~0.35 deg
    assert(merged.covers(original))
    assert(merged.getArea <= original.getArea + 4 * 20 * 2 * cellSize + 4 * cellSize * cellSize * 4,
      s"vectorized area ${merged.getArea} vs ${original.getArea}")
    polys.unpersist()
  }
}

package vps.tiling

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import vps.SparkTestSession
import vps.docs.InterleavedDocs
import vps.geom.{Geo, TileMath, Wkb}
import vps.kernels.KernelSpec
import vps.mvt.Mvt
import vps.sql.functions._

class TilePipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val geoms = {
    val docs = InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    InterleavedDocs.extractGeoSpans(docs)
      .select(($"id" * 10 + $"span_offset").as("id"), $"geom")
      .cache()
  }

  test("tileZoom produces one tile per covered key with all features, decodable") {
    val zoom = 4
    val tiles = TilePipeline.tileZoom(geoms, zoom).collect()
    // every point appears exactly once (points cover exactly one tile)
    assert(tiles.map(_.features.toLong).sum === geoms.count())
    // tile keys match direct computation
    val expectedKeys = geoms
      .select(tile_x(st_x($"geom"), zoom).as("x"), tile_y(st_y($"geom"), zoom).as("y"))
      .distinct().as[(Int, Int)].collect().toSet
    assert(tiles.map(t => (t.x, t.y)).toSet === expectedKeys)
    // decodable + feature ids recoverable
    val t0 = tiles.maxBy(_.features)
    val decoded = Mvt.decode(t0.mvt)
    assert(decoded.layers.head.name === "features")
    assert(decoded.layers.head.features.size === t0.features)
    assert(decoded.layers.head.version === 2)
  }

  test("tile bytes are deterministic across runs and input partitionings") {
    val a = TilePipeline.tileZoom(geoms, 5).collect().map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    val b = TilePipeline.tileZoom(geoms.repartition(7), 5)
      .collect().map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, bytes) => assert(b(k) === bytes, s"tile $k differs") }
  }

  test("polygon clipped across tiles: fragments land in each tile, within extent") {
    val zoom = 6
    val poly = Seq((1L, "POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10))")).toDF("id", "wkt")
      .select($"id", st_geomFromWKT($"wkt").as("geom"))
    val tiles = TilePipeline.tileZoom(poly, zoom, TilePipeline.Options(simplify = false)).collect()
    val keys = TileMath.keysForGeometry(vps.geom.Geo.box(-10, -10, 10, 10), zoom).toSet
    assert(tiles.map(t => (t.x, t.y)).toSet === keys)
    tiles.foreach { t =>
      val g = Mvt.decode(t.mvt).layers.head.features.head.geometry
      val env = g.getEnvelopeInternal
      assert(env.getMinX >= -1 && env.getMaxX <= 4097, s"tile (${t.x},${t.y}) x-range $env")
      assert(env.getMinY >= -1 && env.getMaxY <= 4097, s"tile (${t.x},${t.y}) y-range $env")
    }
  }

  test("pyramid: parent zoom has same or fewer tiles; totals preserved for points") {
    val levels = TileOracle.pyramid(geoms, 2, 4)
    val counts = levels.map { case (z, ds) =>
      val ts = ds.collect(); z -> (ts.length, ts.map(_.features.toLong).sum)
    }.toMap
    assert(counts(4)._2 === geoms.count())
    assert(counts(2)._2 === geoms.count())
    assert(counts(2)._1 <= counts(3)._1 && counts(3)._1 <= counts(4)._1)
  }

  test("tileZoom is byte-identical to the clipped-WKB tile oracle") {
    val poly = Seq((424242L, "POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10))"))
      .toDF("id", "wkt").select($"id", st_geomFromWKT($"wkt").as("geom"))
    val input = geoms.unionByName(poly)
    val fused = TilePipeline.tileZoom(input, 5).collect()
      .map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    val oracle = TileOracle.tileZoom(input, 5).collect()
      .map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    assert(oracle.size > 10)
    assert(fused.keySet === oracle.keySet)
    oracle.foreach { case (k, bytes) => assert(fused(k) === bytes, s"tile $k differs") }
  }

  test("a 10k-vertex star multipolygon with a hole over z13 tiles: oracle bytes and conserved area") {
    val zoom = 13
    val w = 360.0 / (1 << zoom) // tile width in degrees
    val mp = Geo.factory.createMultiPolygon(Array(
      KernelSpec.star(8.3, 46.7, 2.5 * w, KernelSpec.spread(9000, 11), hole = true, depth = 0.1),
      KernelSpec.star(8.3 + 4 * w, 46.7, 0.6 * w, KernelSpec.spread(1000, 12), hole = false)))
    assert(mp.isValid && mp.getNumPoints >= 10000)
    val input = Seq((7L, Wkb.write(mp))).toDF("id", "wkb").select($"id", st_geomFromWKB($"wkb").as("geom"))

    val fused = TilePipeline.tileZoom(input, zoom).collect().map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    val oracle = TileOracle.tileZoom(input, zoom).collect().map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    assert(fused.keySet === oracle.keySet)
    oracle.foreach { case (k, bytes) => assert(fused(k) === bytes, s"tile $k differs") }

    // unsimplified per-tile clips partition the polygon; a key of the
    // envelope that the polygon misses gets the original (pass-through)
    val clips = input.select(explode(tile_keys($"geom", zoom)).as("k"), $"geom")
      .select($"k.x", $"k.y", st_asWKB(st_clipToTile($"geom", lit(zoom), $"k.x", $"k.y")))
      .as[(Int, Int, Array[Byte])].collect()
    var covered = 0
    var area = 0.0
    clips.foreach { case (x, y, wkb) =>
      val env = TileMath.tileEnvelopeLatLng(zoom, x, y)
      val c = Wkb.read(wkb)
      if (mp.intersects(Geo.factory.toGeometry(env))) {
        assert(env.contains(c.getEnvelopeInternal), s"tile ($x,$y) clip leaves the tile")
        if (c.getArea > 0) covered += 1
        area += c.getArea
      } else assert(c.equalsExact(mp), s"tile ($x,$y) misses the polygon but is not the original")
    }
    assert(covered >= 16, s"$covered tiles")
    assert(math.abs(area - mp.getArea) <= 1e-9 * mp.getArea, s"sum $area vs ${mp.getArea}")
  }

  test("pathological hot tile: 50k features on ONE tile key encode correctly") {
    val n = 50000
    // a dense grid inside one z2 tile
    val pts = spark.range(0, n).toDF("id")
      .select($"id", st_point(
        lit(10.0) + ($"id" % 250).cast("double") * 0.0001,
        lit(10.0) + ($"id" / 250).cast("double") * 0.0001).as("geom"))
    val tiles = TilePipeline.tileZoom(pts, 2).collect()
    assert(tiles.length === 1, "all features must land on one tile")
    assert(tiles.head.features === n)
    val decoded = Mvt.decode(tiles.head.mvt)
    assert(decoded.layers.head.features.size === n)
  }

  test("multi-layer tiles: features split into named layers by a string column") {
    val zoom = 4
    // id = doc_id*10 + span_offset (offset 1 or 3): id % 20 < 10 <=> doc_id even
    val layered = geoms.withColumn("kind", when($"id" % 20 < 10, "buildings").otherwise("roads"))
    val tiles = TilePipeline.tileZoom(layered, zoom,
      TilePipeline.Options(layerColumn = Some("kind"))).collect()
    assert(tiles.map(_.features.toLong).sum === geoms.count())
    // decode: layers named, sorted, and counts per layer match a direct groupBy
    val expected = layered
      .select(tile_x(st_x($"geom"), zoom).as("x"), tile_y(st_y($"geom"), zoom).as("y"), $"kind")
      .groupBy("x", "y", "kind").count()
      .as[(Int, Int, String, Long)].collect()
      .map { case (x, y, k, n) => (x, y, k) -> n }.toMap
    var sawBoth = 0
    tiles.foreach { t =>
      val decoded = Mvt.decode(t.mvt)
      assert(decoded.layers.map(_.name) === decoded.layers.map(_.name).sorted)
      if (decoded.layers.size == 2) sawBoth += 1
      decoded.layers.foreach { l =>
        assert(l.features.size.toLong === expected((t.x, t.y, l.name)),
          s"tile (${t.x},${t.y}) layer ${l.name}")
      }
      assert(decoded.layers.map(_.features.size).sum === t.features)
    }
    assert(sawBoth > 0, "at least one tile must carry both layers")
  }

  test("pyramidRekey produces byte-identical tiles to the per-zoom pyramid") {
    // points + a multi-tile polygon, so clipping and simplify are exercised
    val poly = Seq((999999L, "POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10))"))
      .toDF("id", "wkt").select($"id", st_geomFromWKT($"wkt").as("geom"))
    val input = geoms.unionByName(poly)
    val baseline = TileOracle.pyramid(input, 2, 5).map { case (z, ds) =>
      z -> ds.collect().map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    }.toMap
    var rekeyed = Map.empty[Int, Map[(Int, Int), Seq[Byte]]]
    val stats = TilePipeline.pyramidRekey(input, 2, 5) { (z, ds) =>
      rekeyed += z -> ds.collect().map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    }
    assert(rekeyed.keySet === baseline.keySet)
    baseline.foreach { case (z, tiles) =>
      assert(rekeyed(z).keySet === tiles.keySet, s"zoom $z key sets differ")
      tiles.foreach { case (k, bytes) =>
        assert(rekeyed(z)(k) === bytes, s"zoom $z tile $k bytes differ")
      }
    }
    // reported stats line up with the observed tiles
    stats.foreach { case (z, nTiles, _) => assert(nTiles === baseline(z).size.toLong) }
  }

  test("pyramidRekey unpersists its frames and tiles when the sink throws") {
    geoms.count() // the caller's own cache, materialized before the call
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val err = intercept[IllegalStateException] {
      TilePipeline.pyramidRekey(geoms, 2, 4) { (z, ds) =>
        ds.count() // materializes this zoom's tiles and its frame
        if (z == 3) throw new IllegalStateException(s"sink failed at zoom $z")
      }
    }
    assert(err.getMessage === "sink failed at zoom 3")
    assert(spark.sparkContext.getPersistentRDDs.size === persisted)
  }

  test("sink writes z/x/y.mvt, lineage commits, resume skips rewrites") {
    val dir = java.nio.file.Files.createTempDirectory("tilesink").toString
    val tiles = TilePipeline.tileZoom(geoms, 3).repartition(4)
    val lineage1 = TileSink.write(tiles, dir)
    assert(lineage1.map(_.tiles).sum > 0)
    val sample = lineage1.filter(_.tiles > 0).head
    // files exist on disk and decode
    val files = new java.io.File(s"$dir/3").listFiles().flatMap(_.listFiles()).filter(_.getName.endsWith(".mvt"))
    assert(files.length.toLong === lineage1.map(_.tiles).sum)
    val bytes = java.nio.file.Files.readAllBytes(files.head.toPath)
    assert(Mvt.decode(bytes).layers.nonEmpty)
    // resume: delete one tile file, rerun -> lineage says committed, file NOT rewritten
    val victim = files.head
    victim.delete()
    val lineage2 = TileSink.write(tiles, dir)
    assert(lineage2.map(_.tiles).sum === lineage1.map(_.tiles).sum) // reported from lineage
    assert(!victim.exists(), "resume must skip committed partitions")
    // after clearing lineage, rerun rewrites the missing tile
    val lineageDir = new java.io.File(s"$dir/_lineage/z3")
    lineageDir.listFiles().foreach(_.delete())
    TileSink.write(tiles, dir)
    assert(victim.exists())
    // content change with the SAME tile-key set, layout, AND tile->partition
    // mapping must rewrite, not skip: the keysig folds the encoded bytes in.
    // Hash-partition by tile key so the mapping is identical across runs (a
    // round-robin repartition would reshuffle the mapping and mask the check),
    // then add one point INSIDE an existing tile — key set unchanged, that
    // tile's bytes change.
    val dir2 = java.nio.file.Files.createTempDirectory("tilesink2").toString
    val t1 = TilePipeline.tileZoom(geoms.select($"id", $"geom"), 3)
      .repartition(4, $"x", $"y")
    TileSink.write(t1, dir2)
    val existing = new java.io.File(s"$dir2/3").listFiles()
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".mvt")).head
    val tx = existing.getParentFile.getName.toInt
    val ty = existing.getName.stripSuffix(".mvt").toInt
    val env = vps.geom.TileMath.tileEnvelopeLatLng(3, tx, ty)
    val extra = Seq((999999L, f"POINT (${env.centre.x}%.4f ${env.centre.y}%.4f)"))
      .toDF("id", "wkt").select($"id", vps.sql.functions.st_geomFromWKT($"wkt").as("geom"))
    val before = java.nio.file.Files.readAllBytes(existing.toPath).toSeq
    val t2 = TilePipeline.tileZoom(geoms.select($"id", $"geom").unionByName(extra), 3)
      .repartition(4, $"x", $"y")
    TileSink.write(t2, dir2)
    val after = java.nio.file.Files.readAllBytes(existing.toPath).toSeq
    assert(after !== before, "changed tile content under an identical key set must rewrite")
  }

  test("tileZoomSubset: dirty-subset render is byte-identical to the full render") {
    val zoom = 5
    val full = TilePipeline.tileZoom(geoms, zoom).collect()
      .map(t => (t.x, t.y) -> (t.mvt.toSeq, t.features)).toMap
    assert(full.size > 10)
    // pick a third of the tiles as the "dirty" set
    val dirty = full.keySet.toSeq.sortBy(identity).zipWithIndex
      .collect { case (k, i) if i % 3 == 0 => k }.toSet
    val sub = TilePipeline.tileZoomSubset(geoms, zoom, dirty).collect()
      .map(t => (t.x, t.y) -> (t.mvt.toSeq, t.features)).toMap
    assert(sub.keySet === dirty, "exactly the requested tiles are rendered")
    dirty.foreach { k => assert(sub(k) === full(k), s"tile $k must be byte-identical") }
  }

  test("incremental refresh from a diff batch renders only the dirtied tiles") {
    val zoom = 5
    // snapshot = the geo points; diff batch = the deterministic feed, whose
    // dirty footprint is a strict subset of the world
    val diffs = vps.streaming.Diffs.frame(spark, 2, 30)
    val out = vps.streaming.DirtyTiles.refreshTiles(geoms, diffs, zoom).collect()
    val dirty = vps.streaming.DirtyTiles.fromDiffs(diffs, zoom)
      .select($"x", $"y").as[(Int, Int)].collect().toSet
    val full = TilePipeline.tileZoom(geoms, zoom).collect()
      .map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    assert(out.nonEmpty)
    // rendered keys = dirty tiles that actually hold snapshot features
    assert(out.map(t => (t.x, t.y)).toSet === dirty.intersect(full.keySet))
    out.foreach(t => assert(t.mvt.toSeq === full((t.x, t.y))))
  }

  test("tileZoomSubsetFrame: join-based dirty set renders byte-identically with no driver set") {
    val zoom = 5
    val full = TilePipeline.tileZoom(geoms, zoom).collect()
      .map(t => (t.x, t.y) -> (t.mvt.toSeq, t.features)).toMap
    val dirtyKeys = full.keySet.toSeq.sortBy(identity).zipWithIndex
      .collect { case (k, i) if i % 3 == 1 => k }
    val dirtyDf = dirtyKeys.toDF("x", "y")
    val sub = TilePipeline.tileZoomSubsetFrame(geoms, zoom, dirtyDf).collect()
      .map(t => (t.x, t.y) -> (t.mvt.toSeq, t.features)).toMap
    assert(sub.keySet === dirtyKeys.toSet)
    dirtyKeys.foreach { k => assert(sub(k) === full(k), s"tile $k must be byte-identical") }
  }

  test("refreshTiles selects a dirty set under the cap in one Spark job") {
    val (snapshot, diffs) = (geoms, vps.streaming.Diffs.frame(spark, 2, 30)) // reading geoms runs a job
    var tiles: Dataset[TileRow] = null
    // adaptive execution off, as in the benchmark: with it on, each shuffle stage is a job of its own
    val jobs = vps.osm.OsmPlans.withoutAqe(spark) {
      vps.SparkJobs.count(spark) { tiles = vps.streaming.DirtyTiles.refreshTiles(snapshot, diffs, 5) }
    }
    assert(jobs === 1)
    // the literal path: the dirty keys reach the plan as literals, not through a join
    assert(!tiles.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join]))
  }

  test("refreshTiles beyond the driver-collect cap falls back to the join path, identically") {
    val zoom = 5
    val diffs = vps.streaming.Diffs.frame(spark, 2, 30)
    // cap of 1 forces every real batch over the limit -> join-based path
    val capped = vps.streaming.DirtyTiles.refreshTiles(geoms, diffs, zoom, maxDriverKeys = 1)
      .collect().map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    val viaSet = vps.streaming.DirtyTiles.refreshTiles(geoms, diffs, zoom)
      .collect().map(t => (t.x, t.y) -> t.mvt.toSeq).toMap
    assert(capped === viaSet, "join path and driver-set path must render the same bytes")
  }

  test("pyramidRekey keeps extra input columns visible to the reduce hook") {
    // geoms ids are doc_id*10 + offset (odd), so id % 4 is always odd {1, 3}
    val input = geoms.withColumn("importance", ($"id" % 4).cast("int"))
    val stats = TilePipeline.pyramidRekey(input, 3, 4,
      reduce = (df, z) => df.where(col("importance") >= (4 - z) * 2))((_, _) => ())
    val features = stats.map(s => s._1 -> s._3).toMap
    assert(features(4) === geoms.count()) // importance >= 0: everything
    assert(features(3) < features(4)) // importance >= 2: only the 3s survive
  }

  test("VectorPipe facade: hooks drive the pyramid and sink") {
    val dir = java.nio.file.Files.createTempDirectory("vpipe").toString
    var finalized = Vector.empty[Int]
    val pipeline = new Pipeline {
      override def layerName = "pts"
      override def select(df: org.apache.spark.sql.DataFrame, zoom: Int) =
        if (zoom >= 4) df else df.where($"id" % 3 === 1) // decimate at low zoom
      override def finalizeZoom(tiles: org.apache.spark.sql.Dataset[TileRow], zoom: Int): Unit =
        finalized :+= zoom
    }
    val levels = VectorPipe(geoms, pipeline, VectorPipe.Options(minZoom = 3, maxZoom = 4,
      outputDir = Some(dir)))
    assert(finalized === Vector(4, 3))
    val counts = levels.toMap.view.mapValues(_.collect().map(_.features.toLong).sum).toMap
    assert(counts(4) === geoms.count())
    assert(counts(3) < counts(4)) // select hook decimated
    assert(new java.io.File(s"$dir/4").exists && new java.io.File(s"$dir/3").exists)
    val f = new java.io.File(s"$dir/4").listFiles().head.listFiles()
      .filter(f => f.getName.endsWith(".mvt") && !f.getName.startsWith(".")).head
    assert(Mvt.decode(java.nio.file.Files.readAllBytes(f.toPath)).layers.head.name === "pts")
  }

  test("VectorPipe facade: re-key pyramid with two named layers decodes both from disk") {
    val dir = java.nio.file.Files.createTempDirectory("vpipe2").toString
    val layered = geoms.withColumn("kind", when($"id" % 20 < 10, "buildings").otherwise("roads"))
    val errs = vps.geom.GeomErrors.channel(spark, "facade-clip")
    val pipeline = new Pipeline {
      override def layerColumn = Some("kind")
      override def clipTimeoutMs = 2000L
    }
    val levels = VectorPipe(layered, pipeline, VectorPipe.Options(
      minZoom = 3, maxZoom = 4, outputDir = Some(dir), rekeyPyramid = true,
      errors = Some(errs)))
    assert(levels.map(_._1) === Seq(4, 3))
    assert(errs.count === 0L) // clean inputs: nothing timed out
    // decode every written tile; both layers must appear at each zoom and
    // per-zoom feature totals must equal the input count
    Seq(3, 4).foreach { z =>
      var names = Set.empty[String]
      var features = 0L
      val zDir = new java.io.File(s"$dir/$z")
      assert(zDir.exists, s"zoom $z written")
      zDir.listFiles().foreach(_.listFiles()
        .filter(f => f.getName.endsWith(".mvt") && !f.getName.startsWith(".")).foreach { f =>
          val t = Mvt.decode(java.nio.file.Files.readAllBytes(f.toPath))
          assert(t.layers.map(_.name) === t.layers.map(_.name).sorted)
          names ++= t.layers.map(_.name)
          features += t.layers.map(_.features.size).sum
        })
      assert(names === Set("buildings", "roads"), s"zoom $z layers: $names")
      assert(features === geoms.count(), s"zoom $z feature total")
    }
    // byte-identity with the per-zoom recompute facade path
    val dir2 = java.nio.file.Files.createTempDirectory("vpipe3").toString
    VectorPipe(layered, pipeline, VectorPipe.Options(
      minZoom = 3, maxZoom = 4, outputDir = Some(dir2), rekeyPyramid = false))
    Seq(3, 4).foreach { z =>
      val left = new java.io.File(s"$dir/$z")
      left.listFiles().foreach(xd => xd.listFiles()
        .filter(f => f.getName.endsWith(".mvt") && !f.getName.startsWith(".")).foreach { f =>
          val other = new java.io.File(s"$dir2/$z/${xd.getName}/${f.getName}")
          assert(other.exists, s"missing ${other}")
          assert(java.util.Arrays.equals(
            java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.file.Files.readAllBytes(other.toPath)), s"bytes differ: $f")
        })
    }
  }

  /** A circle of 12k vertices (past `Clip.TimeoutGuardMinPoints`) over a few
    * zoom-5 tiles; `nanVertex` puts one vertex at NaN, which makes every
    * overlay of it fail.
    */
  private def bigCircle(nanVertex: Boolean): org.locationtech.jts.geom.Polygon = {
    val n = 12000
    val ring = (0 until n).map { i =>
      val t = 2 * math.Pi * i / n
      if (nanVertex && i == 5) new org.locationtech.jts.geom.Coordinate(Double.NaN, Double.NaN)
      else new org.locationtech.jts.geom.Coordinate(3 + 8 * math.cos(t), 3 + 8 * math.sin(t))
    }
    Geo.factory.createPolygon((ring :+ ring.head).toArray)
  }

  test("every guarded clip that fails is counted once per tile key, through tileZoom and st_clipToTile") {
    val zoom = 5
    def frame(g: org.locationtech.jts.geom.Geometry) =
      spark.createDataset(spark.sparkContext.parallelize(Seq((1L, Wkb.write(g))), 1))
        .toDF("id", "wkb").select($"id", st_geomFromWKB($"wkb").as("geom"))
    // unsimplified, so the clip is guarded; a zero timeout makes every
    // guarded clip time out and pass the original through, so each key still
    // gets its fragment; a second evaluation of the fragment generator would
    // count every clip twice
    val circle = bigCircle(nanVertex = false)
    val keys = TileMath.keysForGeometry(circle, zoom)
    assert(circle.getNumPoints >= vps.kernels.Clip.TimeoutGuardMinPoints && keys.size > 1)
    val timeouts = vps.geom.GeomErrors.channel(spark, "clip-timeout-every-key")
    val tiles = TilePipeline.tileZoom(frame(circle), zoom,
      TilePipeline.Options(simplify = false, clipTimeoutMs = 0, errors = Some(timeouts))).collect()
    assert(tiles.map(t => (t.x, t.y)).toSet === keys.toSet)
    assert(timeouts.count === keys.size.toLong)
    // st_clipToTile has no timeout of its own; a NaN vertex fails each clip
    val broken = bigCircle(nanVertex = true)
    val brokenKeys = TileMath.keysForGeometry(broken, zoom)
    val failures = vps.geom.GeomErrors.channel(spark, "clip-failure-every-key")
    val clipped = frame(broken).select($"geom", explode(tile_keys($"geom", zoom)).as("k"))
      .select(st_clipToTile($"geom", lit(zoom), $"k.x", $"k.y", failures).as("g")).collect()
    assert(clipped.length === brokenKeys.size)
    assert(failures.count === brokenKeys.size.toLong)
  }
}

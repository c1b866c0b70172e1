package vps.streaming

import org.scalatest.funsuite.AnyFunSuite
import vps.SparkTestSession
import vps.mvt.Mvt

class StreamingTilesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("stream -> extract -> tile -> sink produces decodable per-batch tile trees") {
    val out = java.nio.file.Files.createTempDirectory("streamtiles").toString
    val ckpt = java.nio.file.Files.createTempDirectory("streamtiles-ckpt").toString
    val q = StreamingTiles.start(spark, out, ckpt, zoom = 3,
      sourceOptions = Map("head" -> "4", "batch_size" -> "2", "rows_per_sequence" -> "50"))
    try q.processAllAvailable() finally q.stop()

    val batchDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-")).sortBy(_.getName)
    assert(batchDirs.length === 2) // 4 sequences / batch_size 2
    var totalFeatures = 0L
    batchDirs.foreach { bd =>
      val mvts = new java.io.File(bd, "3").listFiles().flatMap(_.listFiles())
        .filter(f => f.getName.endsWith(".mvt") && !f.getName.startsWith("."))
      assert(mvts.nonEmpty, s"${bd.getName}: no tiles")
      mvts.foreach { f =>
        val tile = Mvt.decode(java.nio.file.Files.readAllBytes(f.toPath))
        totalFeatures += tile.layers.head.features.size
      }
      // lineage committed per batch
      assert(new java.io.File(bd, "_lineage/z3").listFiles().nonEmpty)
    }
    // one geo span per streamed doc: 4 sequences x 50 rows
    assert(totalFeatures === 200L)
  }

  // shared drill: stream diffs -> foreachBatch refreshTiles (at the given
  // driver-collect cap) -> on-disk tree must equal the full render
  // restricted to the dirty union
  private def incrementalDrill(maxDriverKeys: Int): Unit = {
    import spark.implicits._
    val zoom = 5
    val snapshot = vps.docs.InterleavedDocs.extractGeoSpans(
      vps.docs.InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001"))
      .select(($"id" * 10 + $"span_offset").as("id"), $"geom")
      .cache()
    val full = vps.tiling.TilePipeline.tileZoom(snapshot, zoom).collect()
      .map(t => (t.x, t.y) -> t.mvt.toSeq).toMap

    val out = java.nio.file.Files.createTempDirectory("incrtiles").toString
    var dirtyUnion = Set.empty[(Int, Int)]
    val q = spark.readStream
      .format("augmented-diffs")
      .option("head", 4).option("batch_size", 2).option("rows_per_sequence", 30)
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          dirtyUnion ++= DirtyTiles.fromDiffs(batch, zoom)
            .select($"x", $"y").as[(Int, Int)].collect()
          val tiles = DirtyTiles.refreshTiles(snapshot, batch, zoom,
            maxDriverKeys = maxDriverKeys)
          vps.tiling.TileSink.write(tiles, out)
          ()
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val written = new java.io.File(s"$out/$zoom").listFiles()
      .flatMap(_.listFiles())
      .filter(f => f.getName.endsWith(".mvt") && !f.getName.startsWith("."))
      .map { f =>
        ((f.getParentFile.getName.toInt, f.getName.stripSuffix(".mvt").toInt),
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      }.toMap
    // exactly the populated dirty tiles were (re)rendered, byte-equal to the
    // full world render
    assert(written.keySet === dirtyUnion.intersect(full.keySet))
    assert(written.nonEmpty)
    written.foreach { case (k, bytes) => assert(bytes === full(k), s"tile $k differs") }
    snapshot.unpersist()
  }

  test("foreachBatch incremental maintenance: diff stream refreshes only dirty tiles") {
    incrementalDrill(maxDriverKeys = 16384) // driver-set path
  }

  test("foreachBatch incremental maintenance through the JOIN path (dirty set over the collect cap)") {
    incrementalDrill(maxDriverKeys = 1) // every batch exceeds the cap
  }

  /** refreshTiles of a diff batch that dirties no tile: no tiles, nothing written. */
  private def refreshNothing(diffs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    val snapshot = Seq((1L, "POINT (1 1)"), (2L, "LINESTRING (0 0, 3 3)")).toDF("id", "wkt")
      .select($"id", vps.sql.functions.st_geomFromWKT($"wkt").as("geom"))
    val tiles = DirtyTiles.refreshTiles(snapshot, diffs.toDF("id", "geom_wkt", "prev_geom_wkt"), 6)
    assert(tiles.collect().isEmpty)
    val out = java.nio.file.Files.createTempDirectory("refresh-nothing")
    try assert(vps.tiling.TileSink.write(tiles, out.toString).isEmpty)
    finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  test("refreshTiles of an empty diff batch gives no tiles") {
    refreshNothing(Seq.empty)
  }

  test("refreshTiles of a diff batch whose geometries are all null gives no tiles") {
    refreshNothing(Seq((1L, null, null), (2L, null, null)))
  }

  test("at most maxDriverKeys + 1 dirty keys reach the driver, whatever the partition count") {
    import org.apache.spark.sql.functions.col
    // eight partitions of five keys each: every partition alone reaches the cap
    val dirty = spark.range(0, 40, 1, 8)
      .select(col("id").cast("int").as("x"), (col("id") * 2).cast("int").as("y"))
    val all = (0 until 40).map(i => (i, 2 * i)).toSet
    val capped = DirtyTiles.driverKeys(dirty, 4)
    assert(capped.length === 5)
    assert(capped.toSet.size === 5 && capped.toSet.subsetOf(all))
    assert(DirtyTiles.driverKeys(dirty, 40).toSet === all)
  }
}

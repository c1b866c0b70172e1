package vps.raster

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.locationtech.jts.geom.Geometry

import vps.geom.{Geo, TileMath, Wkb}
import vps.sql.functions._

/** Raster <-> vector conversion over the tile grid (north-star capability).
  *
  * A raster tile is (zoom, x, y, cells: Array[Float]) with `resolution^2` cells,
  * row-major, y-down — the same tiling scheme as the MVT pipeline, so raster and
  * vector products align pixel-for-pixel.
  *
  * - [[rasterize]]: burn geometries into per-tile grids. Points increment their
  *   containing cell (weight-summed); lines/polygons burn every intersecting
  *   cell (boundary tested with a prepared geometry). Distribution: explode by
  *   tile key, then ONE grid-carrying exchange — partial grids are built
  *   map-side by [[GridBurn]] and merged by cell addition, salt-free.
  * - [[vectorize]]: cells above a threshold -> cell boxes dissolved into
  *   polygons per tile (classic cascaded union keeps output deterministic).
  */
object Raster {

  final case class RasterTile(zoom: Int, x: Int, y: Int, resolution: Int, cells: Array[Float])

  /** Rasterize (id, geom [, weight]) into per-tile grids at `zoom`.
    *
    * Scale shape: ONE exchange keyed by tile, and it carries PARTIAL GRIDS —
    * [[GridBurn]] is a TypedImperativeAggregate whose buffer is the
    * `resolution^2` float grid, so points burn map-side and partials merge by
    * cell addition. A hot tile costs one grid per map partition instead of a
    * per-point row flood into a single reducer; sparse partials ship as
    * (index, value) pairs (see GridBurn).
    */
  def rasterize(
      input: DataFrame,
      zoom: Int,
      resolution: Int = 256,
      weightCol: Option[String] = None): Dataset[RasterTile] = {
    val spark = input.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.vps.ColumnBridge.{column => cb, expression => ex}
    val weighted = weightCol.map(c => input.withColumn("_w", col(c).cast("double")))
      .getOrElse(input.withColumn("_w", lit(1.0)))

    val keyed = weighted
      .select(col("geom"), col("_w"), explode(tile_keys(col("geom"), zoom)).as("k"))
      .select(st_asWKB(col("geom")).as("wkb"), col("_w"), col("k.x").as("x"), col("k.y").as("y"))
    val burn = cb(GridBurn(ex(col("wkb")), ex(col("_w")), ex(col("x")), ex(col("y")),
      zoom, resolution).toAggregateExpression())
    keyed
      .groupBy(col("x"), col("y"))
      .agg(burn.as("cells"))
      .select(lit(zoom).as("zoom"), col("x"), col("y"),
        lit(resolution).as("resolution"), col("cells"))
      .as[RasterTile]
  }

  /** Burn one geometry into a tile grid (the kernel of [[GridBurn]], and of
    * the point-shuffle oracle in the tests): points increment their
    * containing cell; other geometries burn every cell whose box intersects
    * the geometry. Cells accumulate in DOUBLE (rounded to float once at
    * output), so weights that are not exactly float-representable don't make
    * the result depend on partial-merge arrival order.
    *
    * Cost shape: polygons and lines burn via [[burnScan]] — JTS is consulted
    * only for the O(perimeter) boundary-candidate cells and the interior
    * fills by row parity — instead of one `PreparedGeometry.intersects` per
    * envelope-covered cell (O(res^2) JTS calls for a big polygon at res 256).
    * Output is byte-identical to the per-cell reference ([[burnPerCell]],
    * kept as the spec oracle): candidates are decided by the SAME JTS
    * predicate, and non-candidate cells sit >= 1 cell from the boundary,
    * where the parity decision is robust.
    */
  private[vps] def burn(
      g: Geometry,
      w: Double,
      env: org.locationtech.jts.geom.Envelope,
      resolution: Int,
      cells: Array[Double]): Unit =
    g match {
      case p: org.locationtech.jts.geom.Point =>
        val c = p.getCoordinate
        burnPointXY(c.x, c.y, w, env, resolution, cells)
      case other if !other.isEmpty &&
          other.isInstanceOf[org.locationtech.jts.geom.Lineal] =>
        burnScan(other, w, env, resolution, cells)
      case other if !other.isEmpty &&
          other.isInstanceOf[org.locationtech.jts.geom.Polygonal] && other.isValid =>
        // parity interior fill requires a topologically valid boundary; a
        // self-intersecting ring can flip even-odd parity away from the
        // per-cell JTS answer, so invalid polygons take the reference path
        // (isValid is O(vertices log vertices) — cheap next to prepare+scan)
        burnScan(other, w, env, resolution, cells)
      case other => // multipoints, mixed collections, invalid polygons
        burnPerCell(other, w, env, resolution, cells)
    }

  /** Reference implementation: test every envelope-covered cell box with the
    * prepared geometry. O(covered cells) JTS calls — kept as the
    * byte-equality oracle for [[burnScan]] and as the fallback for geometry
    * types outside the scanline's scope (multipoints, collections).
    */
  private[vps] def burnPerCell(
      other: Geometry,
      w: Double,
      env: org.locationtech.jts.geom.Envelope,
      resolution: Int,
      cells: Array[Double]): Unit = {
    val dx = env.getWidth / resolution
    val dy = env.getHeight / resolution
    val ge = other.getEnvelopeInternal
    val i0 = clamp(((ge.getMinX - env.getMinX) / dx).toInt, resolution)
    val i1 = clamp(((ge.getMaxX - env.getMinX) / dx).toInt, resolution)
    val j0 = clamp(((env.getMaxY - ge.getMaxY) / dy).toInt, resolution)
    val j1 = clamp(((env.getMaxY - ge.getMinY) / dy).toInt, resolution)
    val prepared = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(other)
    var j = j0
    while (j <= j1) {
      var i = i0
      while (i <= i1) {
        val cellBox = Geo.box(
          env.getMinX + i * dx, env.getMaxY - (j + 1) * dy,
          env.getMinX + (i + 1) * dx, env.getMaxY - j * dy)
        if (prepared.intersects(cellBox)) cells(j * resolution + i) += w
        i += 1
      }
      j += 1
    }
  }

  /** Scanline burn for lines and polygons.
    *
    * 1. CANDIDATES: every boundary segment is column-swept (clip to each
    *    x-column it spans, take the clipped y-range, expand the cell range
    *    by one in each direction to absorb floating-point slop) — an
    *    O(perimeter-cells) superset of every cell whose box could touch the
    *    boundary. Each candidate is decided by `PreparedGeometry.intersects`
    *    on the EXACT same cell box the reference path builds.
    * 2. INTERIOR (dimension-2 only): per grid row, parity-count boundary
    *    crossings of the row's CENTER line (half-open vertex rule); cells
    *    between odd/even crossing pairs that are NOT candidates are >= 1
    *    cell from the boundary — strictly inside — and burn without JTS.
    */
  private[vps] def burnScan(
      other: Geometry,
      w: Double,
      env: org.locationtech.jts.geom.Envelope,
      resolution: Int,
      cells: Array[Double]): Unit = {
    val res = resolution
    val dx = env.getWidth / res
    val dy = env.getHeight / res
    val minX = env.getMinX
    val maxY = env.getMaxY

    // gather boundary segments (polygon rings incl. holes, or the lines)
    val boundary = if (other.getDimension == 2) other.getBoundary else other
    val segs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    (0 until boundary.getNumGeometries).foreach { gi =>
      boundary.getGeometryN(gi) match {
        case ls: org.locationtech.jts.geom.LineString =>
          val cs = ls.getCoordinateSequence
          var k = 1
          while (k < cs.size) {
            segs += ((cs.getX(k - 1), cs.getY(k - 1), cs.getX(k), cs.getY(k)))
            k += 1
          }
        case p: org.locationtech.jts.geom.Point => // degenerate boundary part
          segs += ((p.getX, p.getY, p.getX, p.getY))
        case other2 => // unexpected boundary type: be conservative
          burnPerCell(other, w, env, res, cells); return
      }
    }
    if (segs.isEmpty) { burnPerCell(other, w, env, res, cells); return }

    // the candidate/interior universe is the SAME floor-clamped envelope
    // cell range the reference path scans — cells that only touch the
    // geometry envelope from the left/top are outside it there too, and
    // byte-parity with the established semantics is the contract
    val envG = other.getEnvelopeInternal
    val gi0 = clamp(((envG.getMinX - minX) / dx).toInt, res)
    val gi1 = clamp(((envG.getMaxX - minX) / dx).toInt, res)
    val gj0 = clamp(((maxY - envG.getMaxY) / dy).toInt, res)
    val gj1 = clamp(((maxY - envG.getMinY) / dy).toInt, res)

    val marks = new java.util.BitSet(res * res)
    segs.foreach { case (x0, y0, x1, y1) =>
      val xa = math.min(x0, x1); val xb = math.max(x0, x1)
      val iLo = math.max(gi0, ((xa - minX) / dx).toInt - 1)
      val iHi = math.min(gi1, ((xb - minX) / dx).toInt + 1)
      var i = iLo
      while (i <= iHi) {
        // y-range of the segment over this column's (slightly widened) x-span
        val cxa = minX + i * dx
        val cxb = cxa + dx
        val (ylo, yhi) =
          if (x0 == x1) (math.min(y0, y1), math.max(y0, y1))
          else {
            val t0 = math.max(0.0, math.min(1.0, (cxa - x0) / (x1 - x0)))
            val t1 = math.max(0.0, math.min(1.0, (cxb - x0) / (x1 - x0)))
            val ya = y0 + t0 * (y1 - y0)
            val yb = y0 + t1 * (y1 - y0)
            (math.min(ya, yb), math.max(ya, yb))
          }
        val jLo = math.max(gj0, ((maxY - yhi) / dy).toInt - 1)
        val jHi = math.min(gj1, ((maxY - ylo) / dy).toInt + 1)
        var j = jLo
        while (j <= jHi) { marks.set(j * res + i); j += 1 }
        i += 1
      }
    }

    // candidates: exact JTS decision on the reference path's cell boxes
    val prepared = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(other)
    var bit = marks.nextSetBit(0)
    while (bit >= 0) {
      val j = bit / res; val i = bit % res
      val cellBox = Geo.box(
        minX + i * dx, maxY - (j + 1) * dy,
        minX + (i + 1) * dx, maxY - j * dy)
      if (prepared.intersects(cellBox)) cells(bit) += w
      bit = marks.nextSetBit(bit + 1)
    }

    // interior fill by center-line parity (polygons only)
    if (other.getDimension == 2) {
      val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var j = gj0
      while (j <= gj1) {
        val yc = maxY - (j + 0.5) * dy
        xs.clear()
        segs.foreach { case (x0, y0, x1, y1) =>
          // half-open: a vertex exactly on the line counts for one edge only
          if ((y0 <= yc && yc < y1) || (y1 <= yc && yc < y0))
            xs += x0 + (yc - y0) * (x1 - x0) / (y1 - y0)
        }
        if (xs.nonEmpty) {
          val sorted = xs.toArray
          java.util.Arrays.sort(sorted)
          var p = 0
          while (p + 1 < sorted.length) {
            val iLo = math.max(gi0, math.ceil((sorted(p) - minX) / dx - 0.5).toInt)
            val iHi = math.min(gi1, math.floor((sorted(p + 1) - minX) / dx - 0.5).toInt)
            var i = iLo
            while (i <= iHi) {
              val bitIdx = j * res + i
              if (!marks.get(bitIdx)) cells(bitIdx) += w
              i += 1
            }
            p += 2
          }
        }
        j += 1
      }
    }
  }

  /** Point burn shared by every path (JTS case, WKB fast path, cell-index
    * expression) so the cell assignment is identical by construction.
    */
  private[vps] def burnPointXY(
      px: Double,
      py: Double,
      w: Double,
      env: org.locationtech.jts.geom.Envelope,
      resolution: Int,
      cells: Array[Double]): Unit = {
    val dx = env.getWidth / resolution
    val dy = env.getHeight / resolution
    val ci = clamp(((px - env.getMinX) / dx).toInt, resolution)
    val cj = clamp(((env.getMaxY - py) / dy).toInt, resolution)
    cells(cj * resolution + ci) += w
  }

  /** Burn a geometry given as WKB, decoding plain 2-D point WKB (21 bytes,
    * either byte order) straight off the buffer — rasterizing a point corpus
    * costs zero JTS allocations per row. Everything else takes the full
    * [[Wkb.read]] + [[burn]] path. Cell math is [[burnPointXY]] on the exact
    * coordinate doubles JTS would produce, so output is byte-identical.
    */
  private[vps] def burnWkb(
      bytes: Array[Byte],
      w: Double,
      env: org.locationtech.jts.geom.Envelope,
      resolution: Int,
      cells: Array[Double]): Unit = {
    if (bytes.length == 21) {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      if (bytes(0) == 1) bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (bb.getInt(1) == 1) {
        burnPointXY(bb.getDouble(5), bb.getDouble(13), w, env, resolution, cells)
        return
      }
    }
    burn(Wkb.read(bytes), w, env, resolution, cells)
  }

  /** Packed `tile-x (20 bits) | tile-y (20 bits) | cell (24 bits)` key of a
    * point-WKB at (zoom, resolution) — the ONE per-row call of
    * [[rasterizePoints]]'s map side. For a point, tile assignment reduces to
    * `(TileMath.tileX, TileMath.tileY)` (keysForGeometry of a degenerate
    * envelope is exactly that single key), and the cell inlines the
    * [[TileMath.tileEnvelopeLatLng]] + [[burnPointXY]] arithmetic (same ops,
    * same order, no Envelope allocation) — bit-identical to the grid paths.
    * Throws on non-point geometry: a packed key cannot represent a
    * multi-cell burn, so silently burning a polygon's first vertex would
    * corrupt results — [[rasterize]] is the any-geometry path.
    * Public + static-forwarded: called from generated code, which passes the
    * geometry UDT's WKB bytes as `AnyRef` (the class Catalyst looks a UDT
    * argument up as).
    */
  def pointKey(geom: AnyRef, zoom: Int, resolution: Int): Long = {
    val bytes = geom.asInstanceOf[Array[Byte]]
    var px = 0.0
    var py = 0.0
    if (bytes.length == 21) {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      if (bytes(0) == 1) bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (bb.getInt(1) != 1)
        throw new IllegalArgumentException(
          s"rasterizePoints: POINT geometry required, got WKB type ${bb.getInt(1)}")
      px = bb.getDouble(5)
      py = bb.getDouble(13)
    } else {
      Wkb.read(bytes) match {
        case p: org.locationtech.jts.geom.Point =>
          val c = p.getCoordinate; px = c.x; py = c.y
        case other =>
          throw new IllegalArgumentException(
            s"rasterizePoints: POINT geometry required, got ${other.getGeometryType}")
      }
    }
    val tx = TileMath.tileX(px, zoom)
    val ty = TileMath.tileY(py, zoom)
    val n = TileMath.numTiles(zoom).toDouble
    val lonMin = tx / n * 360.0 - 180.0
    val lonMax = (tx + 1) / n * 360.0 - 180.0
    val latTop = math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * ty / n))))
    val latBot = math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * (ty + 1.0) / n))))
    val dx = (lonMax - lonMin) / resolution
    val dy = (latTop - latBot) / resolution
    val ci = clamp(((px - lonMin) / dx).toInt, resolution)
    val cj = clamp(((latTop - py) / dy).toInt, resolution)
    (tx.toLong << 44) | (ty.toLong << 24) | (cj * resolution + ci).toLong
  }

  /** Space-partitioned rasterize for POINT inputs — the bounded-memory scale
    * path. [[rasterize]]'s grid-carrying partial aggregation keeps one grid
    * per in-flight tile per map partition: with randomly ordered input every
    * partition touches every hot tile, so partial state (and its serialized
    * shuffle volume) grows as `partitions x tiles x resolution^2` and the
    * per-task random-write working set is ALL tiles' grids (measured: at
    * zoom 6 / res 16 / 67M points the map stage's shuffle write tripled and
    * its CPU per point nearly doubled going 4 -> 16 local cores — the 8 MB
    * per-task grid working set stops fitting shared cache).
    *
    * Here the per-point row is reduced map-side to 16 meaningful bytes
    * (tile x, tile y, cell, weight) with ZERO allocations (point WKB decoded
    * off the buffer, cell index closed-form), pre-partitioned by tile, and
    * each tile's grid is then built exactly ONCE by [[GridCellSum]]: working
    * set per task = only that task's tiles, partial output = one grid per
    * tile TOTAL regardless of parallelism. Costs one row-level exchange of
    * O(points) lean rows; wins when partials are dense (points per tile per
    * partition >> 1) or when `tiles x resolution^2 x 8B` exceeds per-task
    * cache — exactly the hot-raster regime. Byte-identical to [[rasterize]]
    * (RasterSpec).
    */
  def rasterizePoints(
      input: DataFrame,
      zoom: Int,
      resolution: Int = 256,
      weightCol: Option[String] = None): Dataset[RasterTile] = {
    val spark = input.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.vps.ColumnBridge.{column => cb, expression => ex}
    require(zoom <= 20, s"rasterizePoints: zoom $zoom exceeds the 20-bit packed-key range")
    val weighted = weightCol.map(c => input.withColumn("_w", col(c).cast("double")))
      .getOrElse(input.withColumn("_w", lit(1.0)))

    // ONE allocation-free codegen call per row (packed tile+cell key), then
    // pure bit arithmetic — no tile_keys array, no explode, no WKB in the
    // shuffle row. The interpreted tile_keys+explode pipeline was measured
    // NOT thread-scaling (its per-row allocations saturate the shared memory
    // subsystem before the cores do). The geometry UDT feeds the StaticInvoke
    // of pointKey directly (its sqlType is binary), so no st_asWKB call is needed.
    val pointKey = StaticInvoke(Raster.getClass, LongType, "pointKey",
      Seq(ex(col("geom")), Literal(zoom), Literal(resolution)), returnNullable = false)
    val keyed = weighted
      .select(cb(pointKey).as("pk"), col("_w"))
      .select(shiftright(col("pk"), 44).cast("int").as("x"),
        shiftright(col("pk"), 24).bitwiseAND(0xFFFFFL).cast("int").as("y"),
        col("pk").bitwiseAND(0xFFFFFFL).cast("int").as("cell"),
        col("_w"))
    val sum = cb(GridCellSum(ex(col("cell")), ex(col("_w")), resolution)
      .toAggregateExpression())
    keyed
      .repartition(col("x"), col("y"))
      .groupBy(col("x"), col("y"))
      .agg(sum.as("cells"))
      .select(lit(zoom).as("zoom"), col("x"), col("y"),
        lit(resolution).as("resolution"), col("cells"))
      .as[RasterTile]
  }

  private def clamp(v: Int, res: Int): Int = math.max(0, math.min(res - 1, v))

  /** Zonal statistics: per-zone aggregates of raster cell values whose cell
    * CENTER falls inside the zone polygon, over NONZERO cells (sparse raster
    * semantics — tiles only exist where data does).
    * Output: (zone_id, n_cells, sum, mean, min, max).
    *
    * Scale shape: the (small, broadcastable) zone side is the broadcast
    * spatial probe's ([[vps.sql.IndexProbe]]): collected and broadcast once,
    * indexed per task as an STRtree of prepared geometries. Raster tiles
    * stream MAP-SIDE, each emitting one partial stats row per touched zone
    * per partition; the only exchange is the final constant-size per-zone
    * merge.
    */
  def zonalStats(
      tiles: Dataset[RasterTile],
      zones: DataFrame,
      zoneIdCol: String = "zone_id",
      zoneGeomCol: String = "geom"): DataFrame = {
    import org.apache.spark.sql.Encoders
    val zoneProbe = vps.sql.IndexProbe.ofIds(zones, zoneIdCol, zoneGeomCol)

    implicit val partialEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaDouble)
    val partials = tiles.mapPartitions { ts =>
      val index = zoneProbe.index
      // zone_id -> (n, sum, min, max)
      val acc = scala.collection.mutable.HashMap.empty[Long, (Long, Double, Double, Double)]
      // one mutable probe point per task: the cell-center test runs once per
      // nonzero cell and a fresh JTS Point per cell is pure allocation churn
      val probe = Geo.point(0, 0)
      val probeCoord = probe.getCoordinate
      ts.foreach { t =>
        val env = TileMath.tileEnvelopeLatLng(t.zoom, t.x, t.y)
        val rawHits = index.query(env)
        if (!rawHits.isEmpty) {
          val hits = new Array[(Long, org.locationtech.jts.geom.prep.PreparedGeometry)](rawHits.size)
          var h = 0
          while (h < hits.length) {
            hits(h) = rawHits.get(h)
              .asInstanceOf[(Long, org.locationtech.jts.geom.prep.PreparedGeometry)]
            h += 1
          }
          val res = t.resolution
          val dx = env.getWidth / res
          val dy = env.getHeight / res
          var cj = 0
          while (cj < res) {
            var ci = 0
            while (ci < res) {
              val v = t.cells(cj * res + ci)
              if (v != 0f) {
                probeCoord.x = env.getMinX + (ci + 0.5) * dx
                probeCoord.y = env.getMaxY - (cj + 0.5) * dy
                probe.geometryChanged()
                val pt = probe
                var k = 0
                while (k < hits.length) {
                  val (zid, pg) = hits(k)
                  if (pg.intersects(pt)) {
                    val (n, s, mn, mx) = acc.getOrElse(zid,
                      (0L, 0.0, Double.MaxValue, Double.MinValue))
                    acc(zid) = (n + 1, s + v, math.min(mn, v), math.max(mx, v))
                  }
                  k += 1
                }
              }
              ci += 1
            }
            cj += 1
          }
        }
      }
      acc.iterator.map { case (zid, (n, s, mn, mx)) => (zid, n, s, mn, mx) }
    }

    partials.toDF("zone_id", "n", "s", "mn", "mx")
      .groupBy("zone_id")
      .agg(sum(col("n")).as("n_cells"), sum(col("s")).as("sum"),
        min(col("mn")).as("min"), max(col("mx")).as("max"))
      .withColumn("mean", col("sum") / col("n_cells"))
      .select("zone_id", "n_cells", "sum", "mean", "min", "max")
  }

  /** Vectorize: cells with value >= threshold become polygons (cell boxes
    * dissolved per tile). Output: (zoom, x, y, geom, n_cells).
    */
  def vectorize(tiles: Dataset[RasterTile], threshold: Float = 1.0f): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    implicit val geomEnc: org.apache.spark.sql.Encoder[(Int, Int, Int, Geometry, Int)] = {
      Geo.registerUDTs()
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }
    tiles.flatMap { t =>
      val env = TileMath.tileEnvelopeLatLng(t.zoom, t.x, t.y)
      val res = t.resolution
      val dx = env.getWidth / res
      val dy = env.getHeight / res
      val boxes = Vector.newBuilder[org.locationtech.jts.geom.Polygon]
      var n = 0
      var j = 0
      while (j < res) {
        var i = 0
        while (i < res) {
          if (t.cells(j * res + i) >= threshold) {
            n += 1
            boxes += Geo.box(
              env.getMinX + i * dx, env.getMaxY - (j + 1) * dy,
              env.getMinX + (i + 1) * dx, env.getMaxY - j * dy)
          }
          i += 1
        }
        j += 1
      }
      val bs = boxes.result()
      if (bs.isEmpty) Iterator.empty
      else {
        val dissolved = vps.kernels.CascadedUnion.union(bs)
        (0 until dissolved.getNumGeometries)
          .map(dissolved.getGeometryN)
          .collect { case p: org.locationtech.jts.geom.Polygon => (t.zoom, t.x, t.y, p: Geometry, n) }
          .iterator
      }
    }.toDF("zoom", "x", "y", "geom", "n_cells")
  }
}

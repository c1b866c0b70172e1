package vps.tiling

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import vps.mvt.{Mvt, TileBuilder}
import vps.sql.functions._

/** The per-zoom tiling fold of the reference (`VectorPipe.scala:88-197`,
  * Select -> Clip -> Pack -> Tile -> Reduce -> Simplify -> Re-key) rebuilt fully
  * inside the Dataset API — no `.rdd` hop, no Kryo; geometry rides the WKB UDT
  * through Tungsten.
  *
  * One exchange per zoom: clip + MVT command-int encode run fused map-side and
  * the pre-encoded fragments are exchanged ONCE, keyed by tile.
  */
/** One encoded tile. */
final case class TileRow(zoom: Int, x: Int, y: Int, mvt: Array[Byte], features: Int)

/** One packed feature. `layer` is null in single-layer mode (resolved to
  * Options.layerName at encode time), so the common case pays one null bit per
  * feature, not a repeated string. `payload` is the PRE-ENCODED MVT geometry
  * (command ints in tile-local coords), not WKB: smaller through the tile
  * shuffle (a point is ~4-8 varint bytes vs 21 WKB bytes) and the reducer never
  * re-parses geometry. `area` rides along only when Options.orderAreas needs
  * it (0.0 otherwise).
  */
private[tiling] final case class Feat(
    id: Long, layer: String, gt: Int, area: Double, payload: Array[Byte])

object TilePipeline {

  type TileRow = vps.tiling.TileRow
  val TileRow = vps.tiling.TileRow

  final case class Options(
      layerName: String = "features",
      /** When set, the input column holding each feature's layer name — the
        * reference's LayerNamesInColumn (`VectorPipe.scala:151-165`): one
        * emitted tile carries multiple named MVT layers. When None, all
        * features go to the single layer `layerName`.
        */
      layerColumn: Option[String] = None,
      extent: Int = 4096,
      orderAreas: Boolean = false,
      simplify: Boolean = true,
      /** Douglas-Peucker by default (north-star spec); set true for JTS
        * topology-preserving simplification (the reference's default).
        */
      preserveTopology: Boolean = false,
      clipTimeoutMs: Long = 5000,
      /** Counts clip timeouts/topology failures (original geometry passes
        * through, never silently dropped) across the whole pipeline.
        */
      errors: Option[vps.geom.ErrorChannel] = None)

  /** Tile one zoom level. Input: (id: long, geom: GeometryUDT) [+ ignored extra
    * columns]. Deterministic output: per tile, features sorted by id.
    */
  def tileZoom(input: DataFrame, zoom: Int, opts: Options = Options()): Dataset[TileRow] =
    tileZoomFiltered(input, zoom, opts, None, None)

  /** Re-render ONLY the given tile keys — the incremental-maintenance entry
    * point (pair with `DirtyTiles.fromDiffs`: one replication batch touches a
    * bounded tile set, so refreshing the dirty subset replaces a world
    * re-render). Features are pruned BEFORE simplify/clip with a packed-key
    * overlap test on the original geometry's keys (a superset of the
    * simplified keys), and exploded keys are filtered exactly, so clean
    * tiles never reach the encoder. Output tiles are byte-identical to the
    * corresponding [[tileZoom]] tiles. `keys` is driver-held by contract
    * (bounded like a broadcast side).
    */
  def tileZoomSubset(
      input: DataFrame,
      zoom: Int,
      keys: Set[(Int, Int)],
      opts: Options = Options()): Dataset[TileRow] = {
    require(keys.nonEmpty, "tileZoomSubset: empty key subset")
    val packed = keys.map { case (x, y) => x.toLong * 4294967296L + y }
    val packKey = (k: org.apache.spark.sql.Column) =>
      k.getField("x").cast("long") * lit(4294967296L) + k.getField("y").cast("long")
    val pre = input.where(arrays_overlap(
      transform(tile_keys(col("geom"), zoom), packKey),
      lit(packed.toArray)))
    tileZoomFiltered(pre, zoom, opts, Some(packed), None)
  }

  /** [[tileZoomSubset]] for an UNBOUNDED dirty-key set: `dirtyKeys` is a
    * DataFrame of (x, y) tile keys that never touches the driver. Features
    * are pruned with a left-semi join of their (original-geometry) exploded
    * keys against the dirty keys — yielding the dirty feature-id set — and
    * the exploded keys are then exactly semi-join filtered, so clean tiles
    * never reach the encoder. The dirty side of both joins is the small side
    * at replication scale (AQE broadcasts it); a backfill-sized set degrades
    * to a shuffle join, never to a driver collect. Output tiles are
    * byte-identical to [[tileZoom]] restricted to the dirty keys.
    */
  def tileZoomSubsetFrame(
      input: DataFrame,
      zoom: Int,
      dirtyKeys: DataFrame,
      opts: Options = Options()): Dataset[TileRow] = {
    val dk = dirtyKeys
      .select(col("x").cast("int").as("x"), col("y").cast("int").as("y"))
      .distinct()
    val withId = input.withColumn("id", col("id").cast("long"))
    val dirtyIds = withId
      .select(col("id"), explode(tile_keys(col("geom"), zoom)).as("k"))
      .select(col("id"), col("k.x").as("x"), col("k.y").as("y"))
      .join(dk, Seq("x", "y"), "left_semi")
      .select(col("id")).distinct()
    val pre = withId.join(dirtyIds, Seq("id"), "left_semi")
    tileZoomFiltered(pre, zoom, opts, None, Some(dk))
  }

  private def tileZoomFiltered(
      input: DataFrame,
      zoom: Int,
      opts: Options,
      subset: Option[Set[Long]],
      subsetFrame: Option[DataFrame]): Dataset[TileRow] = {
    val simplified =
      if (opts.simplify)
        input.withColumn("geom",
          st_simplify(col("geom"), lit(vps.kernels.Simplify.toleranceForZoom(zoom, opts.extent)),
            preserveTopology = opts.preserveTopology))
      else input

    val layerExpr = opts.layerColumn
      .map(c => col(c).cast("string"))
      .getOrElse(lit(null).cast("string"))
    val exploded0 = simplified
      .select(col("id").cast("long").as("id"), layerExpr.as("layer"), col("geom"),
        explode(tile_keys(col("geom"), zoom)).as("k"))
      .select(col("id"), col("layer"), col("geom"), col("k.x").as("x"), col("k.y").as("y"))
    val exploded = (subset, subsetFrame) match {
      case (Some(p), _) =>
        exploded0.where((col("x").cast("long") * 4294967296L + col("y")).isin(p.toSeq: _*))
      case (None, Some(dk)) =>
        exploded0.join(dk, Seq("x", "y"), "left_semi")
      case _ => exploded0
    }
    packAndEncode(exploded, zoom, opts)
  }

  /** Tile one zoom of a keys-array frame (id, layer, geom, keys:
    * array<struct<x,y>>) where `geom` is the ORIGINAL (un-simplified)
    * geometry — the [[pyramidRekey]] path. Simplification happens here ONCE
    * PER FEATURE (before the key explode, so not per (feature, tile)); since
    * the key set from the original geometry is a superset of the keys the
    * simplified geometry would produce, and empty clips are filtered by the
    * fragment generator, output tiles are byte-identical to [[tileZoom]].
    */
  def tileZoomKeyed(frame: DataFrame, zoom: Int, opts: Options = Options()): Dataset[TileRow] = {
    val simplified =
      if (opts.simplify)
        frame.withColumn("geom",
          st_simplify(col("geom"), lit(vps.kernels.Simplify.toleranceForZoom(zoom, opts.extent)),
            preserveTopology = opts.preserveTopology))
      else frame
    val exploded = simplified
      .select(col("id"), col("layer"), col("geom"), explode(col("keys")).as("k"))
      .select(col("id"), col("layer"), col("geom"), col("k.x").as("x"), col("k.y").as("y"))
    packAndEncode(exploded, zoom, opts)
  }

  /** Fragment-encode, exchange, tile-encode — shared tail of both keyed entry
    * points. Input: (id: long, layer: string-or-null, geom, x, y).
    *
    * clip -> tile-local transform -> command-int encode run fused map-side in
    * one generator, so geometry is parsed once per (feature, tile) and empty
    * clips vanish there; then ONE exchange keyed by tile, and the reducer
    * encodes each tile directly. A tile's encode is single-threaded (one MVT
    * is one byte stream): keep zooms with huge per-tile feature counts in
    * check with a `reduce` decimation hook, as the reference does.
    */
  private def packAndEncode(keyed: DataFrame, zoom: Int, opts: Options): Dataset[TileRow] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed
      .select(col("x"), col("y"), col("id"), col("layer"),
        explode(tile_fragments(col("geom"), zoom, col("x"), col("y"),
          opts.extent, opts.orderAreas, opts.clipTimeoutMs, opts.errors)).as("f"))
      .select(col("x"), col("y"), col("id"), col("layer"),
        col("f.geomType").as("gt"), col("f.area").as("area"), col("f.payload").as("payload"))
      .as[(Int, Int, Long, String, Int, Double, Array[Byte])]
      .groupByKey(r => (r._1, r._2))
      .mapGroups[TileRow] { (key: (Int, Int), rows: Iterator[(Int, Int, Long, String, Int, Double, Array[Byte])]) =>
        val feats = rows.map { case (_, _, id, layer, gt, area, payload) =>
          Feat(id, layer, gt, area, payload)
        }.toArray
        encodeTile(zoom, key._1, key._2, feats, opts)
      }
  }

  /** Encode one tile from its merged features (deterministic: layers sorted by
    * name, features id-sorted inside each layer).
    */
  private[tiling] def encodeTile(zoom: Int, x: Int, y: Int, feats: Array[Feat], opts: Options): TileRow = {
    val layers = feats
      .groupBy(f => if (f.layer == null) opts.layerName else f.layer)
      .toSeq.sortBy(_._1)
      .map { case (name, fs) =>
        val ordered = TileBuilder.orderRawFeatures(
          fs.sortBy(_.id).map(f => Mvt.RawFeature(f.id, f.gt, f.payload, f.area)).toSeq,
          opts.orderAreas)
        (Mvt.encodeLayerRawBytes(name, opts.extent, ordered), fs.length)
      }
    val bytes = Mvt.encodeTileFromLayerBytes(layers.map(_._1))
    TileRow(zoom, x, y, bytes, layers.iterator.map(_._2).sum)
  }

  /** Pyramid via parent re-key (the reference's `reduceKeys` fold,
    * `VectorPipe.scala:118-122,195`): tile keys are computed from the input
    * ONCE at maxZoom; every coarser zoom derives its keys by halving the
    * previous frame's keys (exact: the z-1 tiles intersecting an envelope are
    * precisely the parents of the intersecting z tiles). The full-resolution
    * input is scanned once, not once per zoom; frames persist
    * (MEMORY_AND_DISK) between zooms (the reference's optional persist,
    * `VectorPipe.scala:188`).
    *
    * Keys ride UNEXPLODED as `keys: array<struct<x,y>>` — one row per
    * (id, layer) with the geometry stored once — and each re-key dedupes
    * parents per row with [[vps.sql.ParentTileKeys]] MAP-SIDE (the reference's
    * per-row `reduceKeys`): zero shuffles between zooms, where an exploded
    * frame would pay a full-row dropDuplicates exchange (WKB included) per
    * zoom. The only exchange per zoom is packAndEncode's tile aggregation.
    *
    * Output tiles are byte-identical to [[tileZoom]] per zoom — see
    * [[tileZoomKeyed]]. `reduce` receives ALL input columns plus (id cast
    * long, layer, keys) — "layer"/"keys" are reserved column names under
    * this fold.
    *
    * Materializes each zoom eagerly via `sink` (needed to unpersist frames
    * deterministically); returns per-zoom (tiles, features) counts. Every
    * frame and tile set it persists is unpersisted before it returns or
    * throws, so a failing `sink` leaves the caller's cache as it was.
    */
  def pyramidRekey(
      input: DataFrame,
      minZoom: Int,
      maxZoom: Int,
      opts: Options = Options(),
      reduce: (DataFrame, Int) => DataFrame = (df, _) => df)(
      sink: (Int, Dataset[TileRow]) => Unit): Seq[(Int, Long, Long)] = {
    require(minZoom <= maxZoom)
    val layerExpr = opts.layerColumn
      .map(c => col(c).cast("string"))
      .getOrElse(lit(null).cast("string"))
    // keep EVERY input column (select/reduce hooks may reference them — the
    // rekey switch must not change the hook contract); "layer" and "keys" are
    // reserved names the fold overwrites
    var frame = input
      .withColumn("id", col("id").cast("long"))
      .withColumn("layer", layerExpr)
      .withColumn("keys", tile_keys(col("geom"), maxZoom))
    var prev: Option[DataFrame] = None
    var tiles: Option[Dataset[TileRow]] = None
    val out = Seq.newBuilder[(Int, Long, Long)]
    try {
      for (z <- maxZoom to minZoom by -1) {
        frame.persist(StorageLevel.MEMORY_AND_DISK)
        // tiles (encoded MVTs, small) are cached: sink and stats would
        // otherwise each run the tiling job
        val t = tileZoomKeyed(reduce(frame, z), z, opts).persist(StorageLevel.MEMORY_AND_DISK)
        tiles = Some(t)
        sink(z, t)
        val stats = t.toDF().agg(count(lit(1)), sum(col("features").cast("long"))).head()
        out += ((z, stats.getLong(0), if (stats.isNullAt(1)) 0L else stats.getLong(1)))
        t.unpersist()
        tiles = None
        prev.foreach(_.unpersist())
        prev = Some(frame)
        // re-key: halve + dedupe the key array per row — no shuffle
        if (z > minZoom) frame = frame.withColumn("keys", parent_tile_keys(col("keys")))
      }
      out.result()
    } finally {
      tiles.foreach(_.unpersist())
      prev.foreach(_.unpersist())
      frame.unpersist()
    }
  }
}

package vps.tiling

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import vps.mvt.{Mvt, TileBuilder}
import vps.sql.{GroupKernel, SortedGroups, TileSubset}
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
    tileZoomFiltered(input, zoom, opts, TileSubset.all(zoom), None)

  /** Re-render ONLY the given tile keys — the incremental-maintenance entry
    * point (pair with `DirtyTiles.fromDiffs`: one replication batch touches a
    * bounded tile set, so refreshing the dirty subset replaces a world
    * re-render). Features are pruned BEFORE simplify/clip with a packed-key
    * overlap test on the original geometry's keys (a superset of the
    * simplified keys), and exploded keys are filtered exactly, so clean
    * tiles never reach the encoder. Output tiles are byte-identical to the
    * corresponding [[tileZoom]] tiles; an empty `keys` gives no tiles.
    * `keys` is driver-held by contract (bounded like a broadcast side) and
    * reaches the plan as one object literal ([[vps.sql.TileSubset]]), so
    * the generated code is the same for every key set, and the same as
    * [[tileZoom]]'s, whose subset is every tile.
    */
  def tileZoomSubset(
      input: DataFrame,
      zoom: Int,
      keys: Set[(Int, Int)],
      opts: Options = Options()): Dataset[TileRow] = {
    tileZoomFiltered(input, zoom, opts, TileSubset.of(zoom, keys), None)
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
      .select(col("id"), explode(tile_keys_at(col("geom"), zoom)).as("k"))
      .select(col("id"), col("k.x").as("x"), col("k.y").as("y"))
      .join(dk, Seq("x", "y"), "left_semi")
      .select(col("id")).distinct()
    val pre = withId.join(dirtyIds, Seq("id"), "left_semi")
    tileZoomFiltered(pre, zoom, opts, TileSubset.all(zoom), Some(dk))
  }

  /** The one tile plan of [[tileZoom]], [[tileZoomSubset]] and
    * [[tileZoomSubsetFrame]]: features outside `subset` are pruned on their
    * original geometry's keys, and exploded keys outside it are dropped (an
    * all-tiles subset passes every row without computing keys), then
    * `subsetFrame`'s keys, when given, filter the exploded keys by a semi-join.
    */
  private def tileZoomFiltered(
      input: DataFrame,
      zoom: Int,
      opts: Options,
      subset: TileSubset,
      subsetFrame: Option[DataFrame]): Dataset[TileRow] = {
    val layerExpr = opts.layerColumn
      .map(c => col(c).cast("string"))
      .getOrElse(lit(null).cast("string"))
    val exploded = simplify(input.where(in_tile_subset(subset, col("geom"))), zoom, opts)
      .select(col("id").cast("long").as("id"), layerExpr.as("layer"), col("geom"),
        explode(tile_keys_at(col("geom"), zoom)).as("k"))
      .select(col("id"), col("layer"), col("geom"), col("k.x").as("x"), col("k.y").as("y"))
      .where(tile_in_subset(subset, col("x"), col("y")))
    packAndEncode(subsetFrame.fold(exploded)(dk => exploded.join(dk, Seq("x", "y"), "left_semi")), zoom, opts)
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
    val exploded = simplify(frame, zoom, opts)
      .select(col("id"), col("layer"), col("geom"), explode(col("keys")).as("k"))
      .select(col("id"), col("layer"), col("geom"), col("k.x").as("x"), col("k.y").as("y"))
    packAndEncode(exploded, zoom, opts)
  }

  /** `geom` simplified at the zoom's tolerance, when `opts.simplify`. */
  private def simplify(df: DataFrame, zoom: Int, opts: Options): DataFrame =
    if (!opts.simplify) df
    else df.withColumn("geom", simplified(col("geom"), vps.kernels.Simplify.toleranceForZoom(zoom, opts.extent),
      opts.preserveTopology))

  /** Fragment-encode, exchange, tile-encode — shared tail of both keyed entry
    * points. Input: (id: long, layer: string-or-null, geom, x, y).
    *
    * clip -> tile-local transform -> command-int encode run fused map-side in
    * one generator, so geometry is parsed once per (feature, tile) and empty
    * clips vanish there; then ONE exchange keyed by tile, and the reducer
    * ([[SortedGroups]] over [[EncodeTiles]], reading the fragment rows
    * directly, with no object conversion) encodes each tile. A tile's encode
    * is single-threaded (one MVT is one byte stream): keep zooms with huge
    * per-tile feature counts in check with a `reduce` decimation hook, as the
    * reference does.
    */
  private def packAndEncode(keyed: DataFrame, zoom: Int, opts: Options): Dataset[TileRow] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val fragments = keyed
      .select(col("x"), col("y"), col("id"), col("layer"),
        explode(tile_fragments(col("geom"), zoom, col("x"), col("y"),
          opts.extent, opts.orderAreas, opts.clipTimeoutMs, opts.errors)).as("f"))
      .select(col("x"), col("y"), col("id"), col("layer"),
        col("f.geomType").as("gt"), col("f.area").as("area"), col("f.payload").as("payload"))
    SortedGroups(fragments, Seq("x", "y"), TileSchema, EncodeTiles(zoom, opts)).as[TileRow]
  }

  private val TileSchema = Encoders.product[TileRow].schema

  /** The tile reducer: one tile's fragments (x, y, id, layer, gt, area,
    * payload) in, its [[encodeTile]] row out.
    */
  private final case class EncodeTiles(zoom: Int, opts: Options) extends GroupKernel {
    def apply(group: IndexedSeq[InternalRow]): Iterator[InternalRow] = {
      val feats = group.map(r => Feat(r.getLong(2), if (r.isNullAt(3)) null else r.getUTF8String(3).toString,
        r.getInt(4), r.getDouble(5), r.getBinary(6))).toArray
      val t = encodeTile(zoom, group.head.getInt(0), group.head.getInt(1), feats, opts)
      Iterator.single(InternalRow(t.zoom, t.x, t.y, t.mvt, t.features))
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
    * parents per row with `parent_tile_keys` ([[vps.sql.GeomOps.parentTileKeys]]) MAP-SIDE (the reference's
    * per-row `reduceKeys`): zero shuffles between zooms, where an exploded
    * frame would pay a full-row dropDuplicates exchange (WKB included) per
    * zoom. The only exchange per zoom is packAndEncode's tile aggregation.
    * A zoom's tile plan differs from the next one's only in its state
    * literals (zoom, tolerance), and every re-key runs the same stage, so a
    * pyramid compiles classes for its first zoom and its first re-key only.
    *
    * Output tiles are byte-identical to [[tileZoom]] per zoom — see
    * [[tileZoomKeyed]]. `reduce` receives ALL input columns plus (id cast
    * long, layer, keys) — "layer"/"keys" are reserved column names under
    * this fold.
    *
    * Materializes each zoom eagerly via `sink` (needed to unpersist frames
    * deterministically); returns per-zoom (zoom, tiles, features) counts,
    * read from the zoom's cached tiles in one stage. Every frame and tile set
    * it persists is unpersisted before it returns or throws, so a failing
    * `sink` leaves the caller's cache as it was.
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
      .withColumn("keys", tile_keys_at(col("geom"), maxZoom))
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
        val (n, features) = counts(t)
        out += ((z, n, features))
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

  /** (tiles, features) of a cached tile set: one stage over its rows, the
    * same plan a sink that reads `queryExecution.toRdd` runs.
    */
  private def counts(tiles: Dataset[TileRow]): (Long, Long) = {
    val featuresAt = tiles.schema.fieldIndex("features")
    tiles.queryExecution.toRdd.aggregate((0L, 0L))(
      (acc, r) => (acc._1 + 1, acc._2 + r.getInt(featuresAt)), (a, b) => (a._1 + b._1, a._2 + b._2))
  }
}

package vps.tiling

import org.apache.spark.sql.{DataFrame, Dataset}

/** User-facing pipeline facade mirroring the reference's `VectorPipe.apply` +
  * `Pipeline` hook surface (`VectorPipe.scala:88-197`, `Pipeline.scala:28-47`)
  * on the Dataset-native fold: per zoom, Select -> Reduce -> Simplify -> Key ->
  * Clip -> Pack -> Encode -> Finalize.
  */
trait Pipeline {
  /** Layer name for encoded tiles (single-layer mode). */
  def layerName: String = "features"

  /** Column carrying each feature's layer name — the reference's
    * `LayerNamesInColumn` (`VectorPipe.scala:151-165`): one emitted tile
    * carries multiple named MVT layers. None = single layer `layerName`.
    */
  def layerColumn: Option[String] = None

  /** Filter/shape the frame for a zoom (reference `Pipeline.select`). */
  def select(input: DataFrame, zoom: Int): DataFrame = input

  /** Decimate/aggregate between zooms (reference `Pipeline.reduce`), e.g.
    * weighted-centroid binning. Runs on the frame feeding `zoom`. Under the
    * re-key pyramid the frame carries `keys: array<struct<x,y>>`; a reduce
    * that REWRITES geometry must rewrite `keys` to match (filter-style
    * reduces need no change).
    */
  def reduce(input: DataFrame, zoom: Int): DataFrame = input

  /** Simplify before keying? (reference applies per-zoom simplify). */
  def simplify: Boolean = true

  /** Topology-preserving simplification (the reference's default) instead of
    * Douglas-Peucker.
    */
  def preserveTopology: Boolean = false

  /** Draw large polygons first inside a tile. */
  def orderAreas: Boolean = false

  /** Per-intersection guard for pathological geometries: on timeout the
    * original geometry passes through (counted on `Options.errors`).
    */
  def clipTimeoutMs: Long = 5000

  /** Sink hook per zoom (reference `Pipeline.finalize`). */
  def finalizeZoom(tiles: Dataset[TileRow], zoom: Int): Unit = ()
}

object VectorPipe {
  final case class Options(
      minZoom: Int,
      maxZoom: Int,
      extent: Int = 4096,
      outputDir: Option[String] = None,
      /** Derive coarser zooms by halving the maxZoom keys per row (the
        * reference's `reduceKeys` fold): the input is scanned ONCE and the
        * derived frames persist between zooms — the right shape when the
        * source is too large/expensive to rescan (100 TB object-store reads).
        * Default false: with a cached/cheap input, per-zoom recompute
        * measures faster (79.4 s vs 103.7 s, z6-12 at 20M points — native
        * tile_keys is too cheap for key-reuse to pay; BENCH/BASELINE.md).
        * Both paths are byte-identical (spec-gated).
        */
      rekeyPyramid: Boolean = false,
      /** Counts clip timeouts/failures across the run (rows pass through,
        * never dropped).
        */
      errors: Option[vps.geom.ErrorChannel] = None)

  /** Run the pyramid over (id, geom [, layer-column]) input; writes
    * `z/x/y.mvt` + lineage when `outputDir` is set, always calls the
    * pipeline's finalize hook per zoom (finest first). Returns per-zoom tile
    * datasets — materialized through the sink under `rekeyPyramid`,
    * lazily recomputable either way.
    */
  def apply(input: DataFrame, pipeline: Pipeline, options: Options): Seq[(Int, Dataset[TileRow])] = {
    require(input.columns.contains("id") && input.columns.contains("geom"),
      "input must have columns (id, geom)")
    pipeline.layerColumn.foreach { c =>
      require(input.columns.contains(c), s"layerColumn '$c' not in input")
    }
    val opts = TilePipeline.Options(
      layerName = pipeline.layerName,
      layerColumn = pipeline.layerColumn,
      extent = options.extent,
      orderAreas = pipeline.orderAreas,
      simplify = pipeline.simplify,
      preserveTopology = pipeline.preserveTopology,
      clipTimeoutMs = pipeline.clipTimeoutMs,
      errors = options.errors)
    if (options.rekeyPyramid) {
      var out = Vector.empty[(Int, Dataset[TileRow])]
      TilePipeline.pyramidRekey(input, options.minZoom, options.maxZoom, opts,
        reduce = (df, z) => pipeline.reduce(pipeline.select(df, z), z)) { (zoom, tiles) =>
        options.outputDir.foreach(dir => TileSink.write(tiles, dir))
        pipeline.finalizeZoom(tiles, zoom)
        out :+= (zoom -> tiles)
      }
      out
    } else {
      (options.maxZoom to options.minZoom by -1).map { zoom =>
        val frame = pipeline.reduce(pipeline.select(input, zoom), zoom)
        val tiles = TilePipeline.tileZoom(frame, zoom, opts)
        options.outputDir.foreach(dir => TileSink.write(tiles, dir))
        pipeline.finalizeZoom(tiles, zoom)
        zoom -> tiles
      }
    }
  }
}

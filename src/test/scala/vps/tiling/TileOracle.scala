package vps.tiling

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import vps.geom.Wkb
import vps.mvt.{Mvt, TileBuilder}
import vps.sql.functions._

/** Reference renderers for the tiling fold. */
object TileOracle {

  /** [[TilePipeline.tileZoom]] by an independent geometry path: clip to the
    * tile with `st_clipToTile`, exchange the clipped WKB keyed by tile, then
    * apply the tile-local transform and `Mvt.encodeGeometryPacked` per
    * fragment in the reducer. The engine instead clips, transforms and
    * encodes in one map-side generator (`tile_fragments`). Both share only
    * the simplify step and the final layer/tile assembly.
    */
  def tileZoom(input: DataFrame, zoom: Int, opts: TilePipeline.Options = TilePipeline.Options()): Dataset[TileRow] = {
    val spark = input.sparkSession
    import spark.implicits._
    val simplified =
      if (opts.simplify)
        input.withColumn("geom",
          st_simplify(col("geom"), lit(vps.kernels.Simplify.toleranceForZoom(zoom, opts.extent)),
            preserveTopology = opts.preserveTopology))
      else input
    val layerExpr = opts.layerColumn.map(c => col(c).cast("string")).getOrElse(lit(null).cast("string"))
    simplified
      .select(col("id").cast("long").as("id"), layerExpr.as("layer"), col("geom"),
        explode(tile_keys(col("geom"), zoom)).as("k"))
      .select(col("k.x").as("x"), col("k.y").as("y"), col("id"), col("layer"),
        st_clipToTile(col("geom"), lit(zoom), col("k.x"), col("k.y")).as("geom"))
      .where(!st_isEmpty(col("geom")))
      .select(col("x"), col("y"), col("id"), col("layer"), st_asWKB(col("geom")).as("wkb"))
      .as[(Int, Int, Long, String, Array[Byte])]
      .groupByKey(r => (r._1, r._2))
      .mapGroups[TileRow] { (key: (Int, Int), rows: Iterator[(Int, Int, Long, String, Array[Byte])]) =>
        val (x, y) = key
        val toTile = TileBuilder.lonLatToTile(zoom, x, y, opts.extent)
        val feats = rows.map { case (_, _, id, layer, wkb) =>
          val g = toTile.transform(Wkb.read(wkb))
          val (geomType, payload) = Mvt.encodeGeometryPacked(g)
          Feat(id, layer, geomType, if (opts.orderAreas) g.getArea else 0.0, payload)
        }.toArray
        TilePipeline.encodeTile(zoom, x, y, feats, opts)
      }
  }

  /** The per-zoom pyramid [minZoom, maxZoom], finest first: one
    * [[TilePipeline.tileZoom]] per zoom over `reduce(input, zoom)`. The
    * baseline that [[TilePipeline.pyramidRekey]] must match byte for byte.
    */
  def pyramid(
      input: DataFrame,
      minZoom: Int,
      maxZoom: Int,
      opts: TilePipeline.Options = TilePipeline.Options(),
      reduce: (DataFrame, Int) => DataFrame = (df, _) => df): Seq[(Int, Dataset[TileRow])] = {
    require(minZoom <= maxZoom)
    (maxZoom to minZoom by -1).map { z => z -> TilePipeline.tileZoom(reduce(input, z), z, opts) }
  }
}

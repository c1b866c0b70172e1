package vps.raster

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import vps.geom.{TileMath, Wkb}
import vps.raster.Raster.RasterTile
import vps.sql.functions._

/** Byte-equality oracle for [[Raster.rasterize]]: the same [[Raster.burn]]
  * kernel with the opposite shuffle shape — every point row goes to its
  * tile's reducer instead of partial grids merging by cell addition.
  */
object RasterOracle {
  def rasterizePointShuffle(
      input: DataFrame,
      zoom: Int,
      resolution: Int = 256,
      weightCol: Option[String] = None): Dataset[RasterTile] = {
    val spark = input.sparkSession
    import spark.implicits._
    val weighted = weightCol.map(c => input.withColumn("_w", col(c).cast("double")))
      .getOrElse(input.withColumn("_w", lit(1.0)))

    weighted
      .select(col("geom"), col("_w"), explode(tile_keys(col("geom"), zoom)).as("k"))
      .select(st_asWKB(col("geom")).as("wkb"), col("_w"), col("k.x").as("x"), col("k.y").as("y"))
      .as[(Array[Byte], Double, Int, Int)]
      .groupByKey(r => (r._3, r._4))
      .mapGroups[RasterTile] { (key: (Int, Int), rows: Iterator[(Array[Byte], Double, Int, Int)]) =>
        val (x, y) = key
        val env = TileMath.tileEnvelopeLatLng(zoom, x, y)
        val cells = new Array[Double](resolution * resolution)
        rows.foreach { case (wkb, w, _, _) => Raster.burn(Wkb.read(wkb), w, env, resolution, cells) }
        RasterTile(zoom, x, y, resolution, cells.map(_.toFloat))
      }
  }
}

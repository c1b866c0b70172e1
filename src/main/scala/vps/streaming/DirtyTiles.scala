package vps.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import vps.sql.functions._

/** The diff-consuming operator a tile service runs on every replication
  * batch: which tiles must be re-rendered. A changed feature dirties the
  * tiles its CURRENT geometry touches AND the tiles its PREVIOUS geometry
  * touched (a moved or deleted feature must disappear from its old tile) —
  * exactly what the augmented-diff feed's prev/current pair schema exists
  * for (reference `model/AugmentedDiff.scala:7-28`).
  *
  * Pure relational program (explode tile keys -> count per tile), so it runs
  * identically over [[Diffs.frame]] and the micro-batch stream (update or
  * complete output mode); the only exchange is the final per-tile count.
  */
object DirtyTiles {

  /** (x, y, n_changes) at `zoom` for a diff batch/stream. */
  def fromDiffs(diffs: DataFrame, zoom: Int): DataFrame = {
    val cur = diffs
      .select(explode(tile_keys(st_geomFromWKT(col("geom_wkt")), zoom)).as("k"))
    val prev = diffs
      .where(col("prev_geom_wkt").isNotNull)
      .select(explode(tile_keys(st_geomFromWKT(col("prev_geom_wkt")), zoom)).as("k"))
    cur.unionAll(prev)
      .select(col("k.x").as("x"), col("k.y").as("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_changes"))
  }

  /** Incremental tile maintenance: re-render, from the current `snapshot`
    * feature table, ONLY the tiles a diff batch dirtied — at planet scale a
    * replication batch touches a bounded tile set, so this replaces a world
    * re-render with a dirty-subset render whose tiles are byte-identical to
    * a full [[vps.tiling.TilePipeline.tileZoom]] of the snapshot.
    *
    * A dirty set up to `maxDriverKeys` collects to the driver and prunes via
    * literal predicates (the cheapest plan for a replication micro-batch);
    * anything larger — a backfill window, a huge diff batch — stays
    * distributed and renders through the join-based
    * [[vps.tiling.TilePipeline.tileZoomSubsetFrame]] (byte-identical output,
    * no driver set).
    */
  def refreshTiles(
      snapshot: DataFrame,
      diffs: DataFrame,
      zoom: Int,
      opts: vps.tiling.TilePipeline.Options = vps.tiling.TilePipeline.Options(),
      maxDriverKeys: Int = 16384)
      : org.apache.spark.sql.Dataset[vps.tiling.TileRow] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val dirty = fromDiffs(diffs, zoom).select(col("x"), col("y"))
    // limit(cap + 1) answers "does it exceed the cap" and yields the literal
    // set in one action; the coalesce keeps the limit global (a single-partition
    // exchange under it), so the collect is one job instead of a collect-limit's
    // partition-by-partition scan
    val head = dirty.limit(maxDriverKeys + 1).coalesce(1).as[(Int, Int)].collect()
    if (head.length <= maxDriverKeys)
      vps.tiling.TilePipeline.tileZoomSubset(snapshot, zoom, head.toSet, opts)
    else
      vps.tiling.TilePipeline.tileZoomSubsetFrame(snapshot, zoom, dirty, opts)
  }
}

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
      .select(explode(tile_keys_at(st_geomFromWKT(col("geom_wkt")), zoom)).as("k"))
    val prev = diffs
      .where(col("prev_geom_wkt").isNotNull)
      .select(explode(tile_keys_at(st_geomFromWKT(col("prev_geom_wkt")), zoom)).as("k"))
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
    * no driver set). A batch that dirties no tile (an empty batch, or one
    * whose geometries are all null) gives an empty tile set.
    */
  def refreshTiles(
      snapshot: DataFrame,
      diffs: DataFrame,
      zoom: Int,
      opts: vps.tiling.TilePipeline.Options = vps.tiling.TilePipeline.Options(),
      maxDriverKeys: Int = 16384)
      : org.apache.spark.sql.Dataset[vps.tiling.TileRow] = {
    val dirty = fromDiffs(diffs, zoom).select(col("x"), col("y"))
    val head = driverKeys(dirty, maxDriverKeys)
    if (head.length <= maxDriverKeys)
      vps.tiling.TilePipeline.tileZoomSubset(snapshot, zoom, head.toSet, opts)
    else
      vps.tiling.TilePipeline.tileZoomSubsetFrame(snapshot, zoom, dirty, opts)
  }

  /** Up to `cap + 1` of the (x, y) keys of `dirty`, which answers "does it
    * exceed the cap" and yields the literal set in one job: each partition
    * keeps its first cap + 1 keys and a single task keeps the first cap + 1
    * of those, so at most cap + 1 keys reach the driver. A limit operator
    * would do the same, but its generated code names a counter that is new
    * in every plan, so each batch would compile its stage again.
    */
  private[streaming] def driverKeys(dirty: DataFrame, cap: Int): Array[(Int, Int)] =
    dirty.queryExecution.toRdd
      .mapPartitions(_.take(cap + 1).map(r => (r.getInt(0), r.getInt(1))))
      .coalesce(1, shuffle = true)
      .mapPartitions(_.take(cap + 1))
      .collect()
}

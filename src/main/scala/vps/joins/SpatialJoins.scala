package vps.joins

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.locationtech.jts.geom.Geometry

import vps.geom.Wkb
import vps.sql.IndexProbe
import vps.sql.functions._

/** Native spatial joins (SURVEY.md §2.3 J9/J10).
  *
  * Two point-in-polygon strategies, chosen by the caller by polygon-side size:
  * - [[pipBroadcast]] and [[pipBroadcastIds]]: small polygon side — the
  *   broadcast spatial probe ([[vps.sql.IndexProbe]], the reference's Geocode
  *   pattern, `util/Geocode.scala:61-106`): the polygons are collected and
  *   broadcast once, each task builds an STRtree of prepared geometries, and
  *   the probe runs as one kernel call per point inside whole-stage codegen,
  *   its id array exploded into rows. No shuffle at all.
  * - [[pipCellJoin]]: large-large — both sides keyed by Z-order cell at a level,
  *   plain equi-join (hash/SMJ + AQE) with an exact `st_contains` refine. This is
  *   the 100 TB path: shuffle is by cell id, skew handled by AQE skew-join.
  */
object SpatialJoins {

  /** points ⋈ polygons on containment; polygon side broadcast.
    *
    * @param points df with a geometry column `pointCol`
    * @param polygons df with (polyIdCol: long, geometry `polyCol`)
    * @return points columns + `poly_id` (inner join semantics, one row per
    *         containing polygon row)
    */
  def pipBroadcast(
      points: DataFrame,
      polygons: DataFrame,
      pointCol: String = "geom",
      polyCol: String = "geom",
      polyIdCol: String = "poly_id"): DataFrame = {
    val probe = IndexProbe.ofIds(polygons, polyIdCol, polyCol)
    points.select(col("*"), explode(probe_ids(probe, col(pointCol))).as("poly_id"))
  }

  /** [[pipBroadcast]] projected to (`pointIdCol` cast to long, `poly_id`):
    * the same probe, with only the point id carried next to it. Use when the
    * join result only needs the ids (join other columns back by id).
    */
  def pipBroadcastIds(
      points: DataFrame,
      polygons: DataFrame,
      pointIdCol: String = "id",
      pointCol: String = "geom",
      polyCol: String = "geom",
      polyIdCol: String = "poly_id"): DataFrame = {
    val probe = IndexProbe.ofIds(polygons, polyIdCol, polyCol)
    points.select(col(pointIdCol).cast("long").as(pointIdCol),
      explode(probe_ids(probe, col(pointCol))).as("poly_id"))
  }

  /** Large-large point-in-polygon as a cell-id equi-join + exact refine.
    * Both sides shuffle once on the cell key; no N×M comparisons.
    */
  def pipCellJoin(
      points: DataFrame,
      polygons: DataFrame,
      level: Int,
      pointCol: String = "geom",
      polyCol: String = "geom",
      polyIdCol: String = "poly_id"): DataFrame = {
    // a non-nullable key (cell ids are never negative, so -1 joins nothing):
    // a nullable one makes the optimizer push an inferred isnotnull filter
    // below this projection, and the point's cell is then computed twice
    val pts = points.withColumn("_cell", coalesce(
      vps.sql.functions.cell_at(st_x(col(pointCol)), st_y(col(pointCol)), level), lit(-1L)))
    val pls = polygons
      .select(col(polyIdCol).as("poly_id"), col(polyCol).as("_poly_geom"))
      .withColumn("_cell", explode(cells_of(col("_poly_geom"), level)))
    // single refine predicate: for the point probe side, intersects ==
    // contains-or-boundary (same semantics as the broadcast variant's
    // PreparedGeometry.intersects). With an integral poly id the refine is
    // keyed — the prepared-geometry cache probes by the long id in O(1) per
    // pair instead of re-hashing the polygon WKB (a 10k-vertex country probed
    // by 10^6 points prepares once per task). Non-numeric ids keep the
    // content-hash cache (a lossy cast would silently empty the join).
    // Id-uniqueness contract: polyIdCol should bind each id to ONE geometry
    // row; a violation (multipart regions as several rows per id) is caught
    // by the keyed cache's per-hit full WKB comparison (`Arrays.equals`) and
    // re-prepared — correct results, degraded caching (see vps.sql.KeyedProbe).
    val keyed = polygons.schema(polyIdCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val refine =
      if (keyed) st_intersects_keyed(col("poly_id"), col("_poly_geom"), col(pointCol))
      else st_intersects(col("_poly_geom"), col(pointCol))
    pts.join(pls, Seq("_cell"))
      .where(refine)
      .drop("_cell", "_poly_geom")
  }

  /** Exact kNN join: for each query point, the k nearest data points by
    * Euclidean distance (plus id tiebreak for determinism).
    *
    * Strategy: broadcast the (small) query side; each partition of `points`
    * emits at most k candidates per query (local top-k via bounded heap), then a
    * single window pass takes the global top-k. Shuffle volume is
    * O(#queries * k * #partitions), independent of |points|.
    */
  def knnBroadcast(
      points: DataFrame,
      queries: DataFrame,
      k: Int,
      pointIdCol: String = "id",
      pointGeomCol: String = "geom",
      queryIdCol: String = "query_id",
      queryGeomCol: String = "geom"): DataFrame = {
    val spark = points.sparkSession
    val qs: Array[(Long, Array[Byte])] = queries
      .select(col(queryIdCol).cast("long"), st_asWKB(col(queryGeomCol)))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .collect()
    val bc = spark.sparkContext.broadcast(qs)

    val geomIdx = points.schema.fieldIndex(pointGeomCol)
    val idIdx = points.schema.fieldIndex(pointIdCol)

    val candSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("dist", org.apache.spark.sql.types.DoubleType, nullable = false)))

    val candidates = points.mapPartitions { rows =>
      val queries = bc.value.map { case (id, wkb) => (id, Wkb.read(wkb).getCoordinate) }
      // per-query bounded max-heap of (dist, id)
      val heaps = queries.map { case (qid, _) =>
        qid -> new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
          Ordering.by[(Double, Long), (Double, Long)](identity))
      }.toMap
      rows.foreach { row =>
        val g = row.getAs[Geometry](geomIdx)
        if (g != null) {
          val c = g.getCoordinate
          val pid = row.getLong(idIdx)
          queries.foreach { case (qid, qc) =>
            val dx = c.x - qc.x; val dy = c.y - qc.y
            val d = dx * dx + dy * dy // squared: same order, no sqrt collapse of near-ties
            val h = heaps(qid)
            if (h.size < k) h.enqueue((d, pid))
            else if (Ordering.Tuple2[Double, Long].lt((d, pid), h.head)) { h.dequeue(); h.enqueue((d, pid)) }
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (d, pid) => Row(qid, pid, d) } }
    }(Encoders.row(candSchema))

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Cell-pruned kNN: candidates restricted to the k-ring of the query cell,
    * exact refine + top-k inside. `ring` must be sized so the true neighbors
    * fall inside (guaranteed when k-ring covers radius >= kth distance);
    * callers verify or fall back to [[knnBroadcast]].
    */
  def knnCellJoin(
      points: DataFrame,
      queries: DataFrame,
      k: Int,
      level: Int,
      ring: Int,
      pointIdCol: String = "id",
      pointGeomCol: String = "geom",
      queryIdCol: String = "query_id",
      queryGeomCol: String = "geom"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = points.select(
      col(pointIdCol).cast("long").as("neighbor_id"),
      col(pointGeomCol).as("_pg"),
      cell_at(st_x(col(pointGeomCol)), st_y(col(pointGeomCol)), level).as("_cell"))
    val qs = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryGeomCol).as("_qg"),
      explode(cell_kring(
        cell_at(st_x(col(queryGeomCol)), st_y(col(queryGeomCol)), level), ring)).as("_cell"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    qs.join(pts, Seq("_cell"))
      .withColumn("dist", st_distance(col("_qg"), col("_pg")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .drop("_cell", "_qg", "_pg")
  }

  /** Point-in-time (as-of range) join: equi keys + `validFrom <= t < validUntil`
    * with null validUntil = still valid — the reference's J2/J4 residual pattern
    * (`internal/package.scala:236-240`).
    */
  def asofRangeJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: Column,
      rightValidFrom: Column,
      rightValidUntil: Column): DataFrame =
    left.join(right, keys)
      .where(rightValidFrom <= leftTime &&
        (rightValidUntil.isNull || leftTime < rightValidUntil))

  /** As-of latest join: for each left row, the single latest right row with
    * rightTime <= leftTime (per key). Implemented as equi-join + window top-1.
    */
  def asofLatestJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      leftIdCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = left.join(right, keys)
      .where(col(rightTimeCol) <= col(leftTimeCol))
    val w = Window.partitionBy(col(leftIdCol)).orderBy(col(rightTimeCol).desc)
    joined.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** As-of latest join, aggregation form: for each left row (identified by
    * `leftIdCol`), the `valueCols` of the single right row with the greatest
    * `rightTimeCol <= leftTimeCol`, ties broken to the SMALLEST `tieBreakCol`
    * (must be numeric). Same semantics as [[asofLatestJoin]] projected to
    * (leftId, values), but the plan is a hash aggregation instead of a
    * sort window: partial aggregation collapses each left row's candidate
    * set map-side BEFORE the exchange, so only one row per left id crosses
    * the shuffle — the window form shuffles and sorts the full equi-join
    * candidate set (|left| x avg right rows per key).
    */
  def asofLatestAgg(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      leftIdCol: String,
      tieBreakCol: String,
      valueCols: Seq[String]): DataFrame = {
    val joined = left.join(right, keys)
      .where(col(rightTimeCol) <= col(leftTimeCol))
    // lexicographic struct max = latest time, then smallest tie-break
    val ord = struct(col(rightTimeCol), (-col(tieBreakCol)).as("_nk"))
    val aggs = valueCols.map(v => max_by(col(v), ord).as(v))
    joined.groupBy(col(leftIdCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact kNN with cell pruning: run [[knnCellJoin]] with `initialRing`, then
    * verify per query that the ring PROVABLY contains the true top-k — the kth
    * candidate distance must not exceed the distance from the query point to
    * the edge of the ring-covered area (and >= k candidates must exist).
    * Queries failing the guarantee fall back to [[knnBroadcast]] (exact).
    * Distances are squared-euclidean in degree space on both paths.
    */
  def knnCellJoinExact(
      points: DataFrame,
      queries: DataFrame,
      k: Int,
      level: Int,
      initialRing: Int = 1,
      pointIdCol: String = "id",
      pointGeomCol: String = "geom",
      queryIdCol: String = "query_id",
      queryGeomCol: String = "geom"): DataFrame = {
    import vps.geom.{CellId, TileMath}
    // knnCellJoin output is bounded at |queries| * k rows and the query side is
    // driver-collected by contract, so the candidate set is collected ONCE:
    // per-query stats come from the same rows (no second Spark job, and no
    // cached plan left behind in the session's storage)
    val candSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false),
      StructField("rank", IntegerType, nullable = false)))
    val candRows: Array[Row] = knnCellJoin(points, queries, k, level, initialRing,
      pointIdCol, pointGeomCol, queryIdCol, queryGeomCol)
      // knnCellJoin returns euclidean distance; square it to align with the
      // broadcast path ordering metric
      .select(col("query_id"), col("neighbor_id"),
        (col("dist") * col("dist")).as("dist"), col("rank"))
      .collect()

    val qs = queries
      .select(col(queryIdCol).cast("long").as("query_id"), st_asWKB(col(queryGeomCol)))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .collect()

    val stats: Map[Long, (Long, Double)] = candRows.groupBy(_.getLong(0)).map {
      case (qid, rs) => qid -> (rs.length.toLong, rs.iterator.map(_.getDouble(2)).max)
    }

    val failing = qs.filter { case (qid, wkb) =>
      stats.get(qid) match {
        case None => true // no candidates at all
        case Some((n, kthSq)) =>
          if (n < k) true
          else {
            // margin: distance from the query point to the nearest edge of
            // the ring-covered region (beyond which unseen points may lurk).
            // Edges at the antimeridian wrap or pole clamp are unbounded: no
            // cells (hence no points) exist beyond them.
            val c = Wkb.read(wkb).getCoordinate
            val cell = CellId.fromLonLat(c.x, c.y, level)
            val cx = CellId.x(cell); val cy = CellId.y(cell)
            val nCells = 1L << level
            val x0 = cx - initialRing; val x1 = cx + initialRing
            val y0 = math.max(0L, cy - initialRing)
            val y1 = math.min(nCells - 1, cy + initialRing)
            val lonMargin =
              if (x1 - x0 + 1 >= nCells) Double.MaxValue
              else {
                val west = TileMath.tileEnvelopeLatLng(level, math.floorMod(x0, nCells).toInt, cy.toInt)
                val east = TileMath.tileEnvelopeLatLng(level, math.floorMod(x1, nCells).toInt, cy.toInt)
                math.min(c.x - west.getMinX, east.getMaxX - c.x)
              }
            val northMargin =
              if (y0 == 0) Double.MaxValue
              else TileMath.tileEnvelopeLatLng(level, cx.toInt, y0.toInt).getMaxY - c.y
            val southMargin =
              if (y1 == nCells - 1) Double.MaxValue
              else c.y - TileMath.tileEnvelopeLatLng(level, cx.toInt, y1.toInt).getMinY
            val margin = math.min(lonMargin, math.min(northMargin, southMargin))
            kthSq > margin * margin
          }
      }
    }.map(_._1).toSet

    val spark = points.sparkSession
    val okPart = spark.createDataFrame(
      java.util.Arrays.asList(candRows.filterNot(r => failing(r.getLong(0))): _*), candSchema)
    if (failing.isEmpty) okPart
    else {
      val failedQueries = queries.where(col(queryIdCol).cast("long").isin(failing.toSeq: _*))
      val exact = knnBroadcast(points, failedQueries, k,
        pointIdCol, pointGeomCol, queryIdCol, queryGeomCol)
      okPart.unionByName(exact)
    }
  }
}

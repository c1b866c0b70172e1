package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StructField, StructType}
import org.locationtech.jts.geom._
import org.locationtech.jts.simplify.DouglasPeuckerSimplifier

import vps.geom.{GeomErrors, TileMath, Wkb}
import vps.mvt.Mvt
import vps.osm.Osm
import vps.sql.functions._
import vps.tiling.{TilePipeline, TileRow, TileSink}

/** Shared run context. */
final case class Ctx(spark: SparkSession, cpus: Int, seed: Long, scale: Double, runDir: File, tracer: Tracer,
    heap: HeapProbe = new HeapProbe) {
  /** Generated rows as a checkpointed table: later scans read executor
    * blocks, not driver-side rows shipped inside every task.
    */
  def table(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cpus), schema).localCheckpoint()
}

/** One measured operation: its timed wall seconds, output-check problems
  * (non-empty = failed operation) and per-operation counters.
  */
final case class OpOutcome(wallS: Double, problems: Seq[String], counters: Map[String, Double])

trait Workload {
  def name: String
  /** Generate inputs and load them. Replaces any earlier state. */
  def setup(): Unit
  def teardown(): Unit
  /** Checked operations run in set-up, before the measured loop. */
  def warmUpOps: Int
  /** One closed-loop operation; `traced` adds boundary materializations. */
  def op(i: Int, traced: Boolean): OpOutcome
  /** A seeded sample of this workload's own geometries and the zoom they tile at. */
  def kernelSample(n: Int): (Seq[Geometry], Int)
}

object Workload {
  val names: Seq[String] = Seq("osm_tiles", "pip_join")
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "osm_tiles" => new OsmTiles(ctx)
    case "pip_join" => new PipJoin(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}

/** Output checks and sink helpers shared by the tiling workloads. */
object Checks {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def tileFile(dir: File, z: Int, x: Int, y: Int): File = new File(dir, s"$z/$x/$y.mvt")

  /** Drop a table's cache and the checkpointed blocks under it now, rather
    * than whenever the context cleaner gets to them (which made the live
    * heap between operations bimodal).
    */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist()
      case _ =>
    }
  }

  /** Decoded feature count of each tile. `Mvt.decode` takes tens of
    * milliseconds on a dense tile, so the tiles decode on all cores.
    */
  def decodedFeatures(tiles: Seq[Array[Byte]]): Seq[Int] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(tiles)(b => Future(Mvt.decode(b).layers.map(_.features.size).sum)), Duration.Inf)
  }

  /** Lineage-file modification times of one zoom, to tell written from
    * skipped partitions after a sink call.
    */
  def lineageTimes(dir: File, zoom: Int): Map[String, Long] =
    Option(new File(dir, s"_lineage/z$zoom").listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.endsWith(".json"))
      .map(f => f.getName -> Files.getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.NANOSECONDS)).toMap

  /** (written, skipped) partitions of one `TileSink.write` call. */
  def sinkPartitions(dir: File, zoom: Int, before: Map[String, Long],
      lineage: Seq[TileSink.PartitionLineage]): (Int, Int) = {
    val after = lineageTimes(dir, zoom)
    val skipped = lineage.count { r =>
      val n = s"part-${r.partition}.json"
      before.get(n).exists(t => after.get(n).contains(t))
    }
    (lineage.size - skipped, skipped)
  }

  /** JTS-only recount of a tile pyramid: for every tile, (fragments routed
    * to it, fragments whose MVT geometry is non-empty). A feature is routed
    * to every tile its envelope keys at that zoom; its zoom-simplified
    * geometry survives the clip unless the intersection is non-empty but of
    * lower dimension (an empty intersection or an overlay failure passes the
    * geometry through). A routed fragment encodes to nothing when, in
    * integer tile coordinates, no line keeps 2 and no ring keeps 3 distinct
    * consecutive vertices.
    */
  def recount(geoms: Seq[Geometry], z: Int, x: Int, y: Int, extent: Int = 4096): (Int, Int) = {
    val env = TileMath.tileEnvelopeLatLng(z, x, y)
    val rect = vps.geom.Geo.factory.toGeometry(env)
    val kept = geoms
      .filter(g => g.getEnvelopeInternal.intersects(env) && TileMath.keysForGeometry(g, z).contains((x, y)))
      .map(g => DouglasPeuckerSimplifier.simplify(g, 360.0 / (1 << z) / extent))
      .filterNot(_.isEmpty)
      .flatMap(clip(_, rect))
    (kept.size, kept.count(encodes(_, env, extent)))
  }

  private def parts(g: Geometry): Seq[Geometry] = g match {
    case gc: GeometryCollection => (0 until gc.getNumGeometries).flatMap(i => parts(gc.getGeometryN(i)))
    case one => Seq(one)
  }
  private def clip(s: Geometry, rect: Geometry): Option[Geometry] = s match {
    case _: Point => Some(s)
    case _ =>
      val r = try s.intersection(rect) catch { case scala.util.control.NonFatal(_) => null }
      if (r == null || r.isEmpty) Some(s)
      else {
        val keep = parts(r).filter(p => s match {
          case _: Polygon | _: MultiPolygon => p.isInstanceOf[Polygon]
          case _: LineString | _: MultiLineString => p.isInstanceOf[LineString]
          case _ => p.isInstanceOf[Point]
        })
        if (keep.isEmpty) None else Some(vps.geom.Geo.factory.buildGeometry(keep.asJava))
      }
  }
  private def encodes(g: Geometry, env: Envelope, extent: Int): Boolean = {
    val sx = extent / env.getWidth; val sy = extent / env.getHeight
    def distinct(cs: Array[Coordinate], ring: Boolean): Int = {
      val pts = cs.map(c => (math.round(sx * c.x + 0.0 * c.y + -env.getMinX * sx),
        math.round(0.0 * c.x + -sy * c.y + env.getMaxY * sy)))
      val deduped = pts.foldLeft(List.empty[(Long, Long)])((acc, p) => if (acc.headOption.contains(p)) acc else p :: acc)
      if (ring && deduped.size >= 2 && deduped.head == deduped.last) deduped.size - 1 else deduped.size
    }
    parts(g).exists {
      case _: Point => true
      case l: LineString => distinct(l.getCoordinates, ring = false) >= 2
      case p: Polygon => (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
        .exists(r => distinct(r.getCoordinates, ring = true) >= 3)
      case _ => false
    }
  }
}

// ---------------------------------------------------------------------------

/** One replication batch: (id, geom_wkt, prev_geom_wkt) diff rows, the ids
  * it changes, the (id, kind, wkt) rows it adds, and the tiles it dirties.
  */
final case class DiffBatch(rows: Seq[(Long, String, String)], changed: Seq[Long],
    added: Seq[(Long, String, String)], dirty: Set[(Int, Int)])

/** OSM history -> toGeometry -> snapshot -> pyramidRekey z12-13 -> TileSink,
  * then one diff batch -> DirtyTiles.refreshTiles -> TileSink over that tree.
  */
final class OsmTiles(ctx: Ctx) extends Workload {
  import ctx._
  val name = "osm_tiles"
  val minZoom = 12
  val maxZoom = 13
  val BatchSize = 40
  val warmUpOps = 1
  private var input: OsmInput = _
  private var history: DataFrame = _
  private var opDirs = 0

  def setup(): Unit = {
    teardown()
    val t0 = System.nanoTime()
    input = OsmGen.generate(seed, scale)
    val t1 = System.nanoTime()
    history = ctx.table(input.rows, OsmGen.schema).persist()
    Main.log(f"$name: ${history.count()} history rows, generated in ${(t1 - t0) / 1e9}%.2f s, loaded in ${(System.nanoTime() - t1) / 1e9}%.2f s")
  }

  def teardown(): Unit = if (history != null) { Checks.release(history); history = null }

  private def kind: Column = {
    val t = col("tags")
    when(t("building").isNotNull, "building")
      .when(t("landuse").isNotNull, "landuse")
      .when(t("type") === "multipolygon", "water")
      .when(t("type") === "route", "route")
      .when(t("highway").isNotNull, "road")
      .otherwise("poi")
  }
  private type Column = org.apache.spark.sql.Column

  def op(i: Int, traced: Boolean): OpOutcome = {
    import spark.implicits._
    val tr = tracer
    val errors = GeomErrors.channel(spark, s"clip.op$i")
    opDirs += 1
    val dir = new File(runDir, s"tiles-$opDirs")
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val tileRows = mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Int)] // z, x, y, features, bytes
    val problems = mutable.ArrayBuffer.empty[String]
    var excludedNs = 0L
    def sinkCounters(z: Int, before: Map[String, Long], lineage: Seq[TileSink.PartitionLineage]): Unit = {
      val (written, skipped) = Checks.sinkPartitions(dir, z, before, lineage)
      counters("sink.partitions_written") += written
      counters("sink.partitions_skipped") += skipped
      counters("sink.files") += lineage.map(_.tiles).sum.toDouble
      counters("sink.bytes") += lineage.map(_.bytes).sum.toDouble
    }
    val t0 = System.nanoTime()

    // the snapshot is checkpointed, not cached: a cached toGeometry plan
    // would nest inside every later query plan of the operation
    val snapshot = tr.span("osm.toGeometry") {
      val s = Osm.snapshot(Osm.toGeometry(history))
        .select(col("_type"), col("id"), col("visible"), col("geom"), kind.as("kind"))
        .localCheckpoint()
      counters("osm.geoms_out") = s.count().toDouble
      s
    }
    val tileInput = snapshot
      .where(col("visible") && col("geom").isNotNull)
      .select((col("_type").cast("long") * TypeStride + col("id")).as("id"), col("kind"), col("geom"))
    val opts = TilePipeline.Options(layerColumn = Some("kind"), errors = Some(errors))
    tr.span("tiling.pyramidRekey") {
      TilePipeline.pyramidRekey(tileInput, minZoom, maxZoom, opts) { (z, tiles) =>
        if (traced) tr.span("tiling.render") {
          val c = tiles.toDF().groupBy().count()
          c.collect()
          planCounters(c.queryExecution.executedPlan, counters)
        }
        val before = Checks.lineageTimes(dir, z)
        val lineage = tr.span("sink.write") { TileSink.write(tiles, dir.getPath) }
        val c0 = System.nanoTime()
        tr.span("bench.check") {
          heap.sample() // the zoom's tiles are cached, the parent zoom's too
          sinkCounters(z, before, lineage)
          tileRows ++= tiles.toDF().select(col("zoom"), col("x"), col("y"), col("features"), length(col("mvt")))
            .as[(Int, Int, Int, Int, Int)].collect()
        }
        excludedNs += System.nanoTime() - c0
      }
    }
    val renderNs = System.nanoTime() - t0 - excludedNs
    counters("kernels.clip_failures") = errors.count.toDouble
    counters("tile_bytes") = tileRows.map(_._5.toLong).sum.toDouble
    counters("max_tile_bytes") = if (tileRows.isEmpty) 0.0 else tileRows.map(_._5).max.toDouble
    counters("tile_features") = tileRows.map(_._4.toLong).sum.toDouble
    try {
      problems ++= tr.span("bench.check")(check(i, snapshot, dir, tileRows.toSeq, counters))

      // one replication batch against the rendered tree: DirtyTiles.refreshTiles
      // re-renders the dirtied max-zoom tiles of the edited snapshot
      val batch = tr.span("bench.prepare")(replicationBatch(i))
      val after = tileInput.join(batch.changed.toDF("id"), Seq("id"), "left_anti")
        .unionByName(batch.added.toDF("id", "kind", "wkt")
          .select(col("id"), col("kind"), st_geomFromWKT(col("wkt")).as("geom")))
      val diffs = batch.rows.toDF("id", "geom_wkt", "prev_geom_wkt")
      val t1 = System.nanoTime()
      val refreshed = tr.span("streaming.refreshTiles") {
        vps.streaming.DirtyTiles.refreshTiles(after, diffs, maxZoom, opts)
      }.persist()
      if (traced) tr.span("streaming.render") {
        val c = refreshed.toDF().groupBy().count()
        c.collect()
        PlanStats.nodes(c.queryExecution.executedPlan).foreach {
          case (scan, 1) if scan.getClass.getSimpleName.contains("RDDScan") =>
            counters("streaming.snapshot_rows_scanned") += PlanStats.rows(scan).toDouble
          case _ =>
        }
      }
      val before = Checks.lineageTimes(dir, maxZoom)
      val lineage = tr.span("sink.write") { TileSink.write(refreshed, dir.getPath) }
      counters("streaming.refresh_s") = (System.nanoTime() - t1) / 1e9
      heap.sample() // the refreshed tiles are cached
      counters("streaming.dirty_tiles") = batch.dirty.size.toDouble
      try problems ++= tr.span("bench.check") {
        sinkCounters(maxZoom, before, lineage)
        checkRefresh(after, refreshed, lineage, batch.dirty, dir, opts)
      } finally refreshed.unpersist()
    } finally {
      Checks.release(snapshot)
      Checks.deleteTree(dir)
    }
    OpOutcome((renderNs / 1e9) + counters("streaming.refresh_s"), problems.take(20).toSeq, counters.toMap)
  }

  /** Ids of tile features: OSM id offset by element type. */
  private val TypeStride = 10000000000L

  /** A seeded diff batch over the snapshot's visible features: 60% moved,
    * 25% created points, 15% deleted. Dirty tiles come from the WKT the
    * engine parses.
    */
  private def replicationBatch(i: Int): DiffBatch = {
    val rng = new Rng(seed * 7919 + i)
    val visible = input.intended.toSeq.filter(_._2.visible).sortBy(_._1).toIndexedSeq
    val rows = mutable.ArrayBuffer.empty[(Long, String, String)]
    val added = mutable.ArrayBuffer.empty[(Long, String, String)]
    val changed = mutable.LinkedHashSet.empty[Long]
    def wkt(g: Geometry) = vps.geom.Wkt.write(g)
    (0 until BatchSize).foreach { k =>
      val ((t, osmId), w) = rng.pick(visible)
      val id = t * TypeStride + osmId
      val u = rng.uniform(0, 1)
      if (u < 0.60 && !changed.contains(id)) {
        val g = org.locationtech.jts.geom.util.AffineTransformation
          .translationInstance(0.002 * rng.gaussian(), 0.002 * rng.gaussian()).transform(w.geom)
        changed += id; added += ((id, w.kind, wkt(g))); rows += ((id, wkt(g), wkt(w.geom)))
      } else if (u < 0.85) {
        val c = w.geom.getCentroid
        val g = vps.geom.Geo.point(c.getX + 0.001 * rng.gaussian(), c.getY + 0.001 * rng.gaussian())
        val nid = 9 * TypeStride + (i + 1000) * 1000L + k
        added += ((nid, "poi", wkt(g))); rows += ((nid, wkt(g), null))
      } else if (!changed.contains(id)) {
        changed += id; rows += ((id, wkt(w.geom), wkt(w.geom)))
      }
    }
    val dirty = rows.flatMap { case (_, cur, prev) => Seq(cur) ++ Option(prev) }
      .flatMap(s => TileMath.keysForGeometry(vps.geom.Wkt.read(s), maxZoom)).toSet
    DiffBatch(rows.toSeq, changed.toSeq, added.toSeq, dirty)
  }

  /** refreshTiles' contract: every dirtied tile on disk equals a fresh
    * tileZoom of the edited snapshot (a dirtied tile left without features
    * is removed, as a tile service does; the sink only writes what it gets).
    */
  private def checkRefresh(after: DataFrame, refreshed: Dataset[TileRow],
      lineage: Seq[TileSink.PartitionLineage], dirty: Set[(Int, Int)], dir: File,
      opts: TilePipeline.Options): Seq[String] = {
    import spark.implicits._
    val problems = mutable.ArrayBuffer.empty[String]
    val emitted = refreshed.toDF().select(col("x"), col("y")).as[(Int, Int)].collect().toSet
    if (!emitted.subsetOf(dirty)) problems += s"refresh rendered ${(emitted -- dirty).size} tiles outside the dirty set"
    if (lineage.map(_.tiles).sum != emitted.size) problems += s"sink wrote ${lineage.map(_.tiles).sum} tiles, refresh made ${emitted.size}"
    (dirty -- emitted).foreach { case (x, y) => Checks.tileFile(dir, maxZoom, x, y).delete() }
    val fresh = TilePipeline.tileZoom(after, maxZoom, opts.copy(errors = None)).toDF().select(col("x"), col("y"), col("mvt"))
      .as[(Int, Int, Array[Byte])].collect().map(t => (t._1, t._2) -> t._3).toMap
    dirty.toSeq.sorted.foreach { case (x, y) =>
      val f = Checks.tileFile(dir, maxZoom, x, y)
      val disk = if (f.isFile) Some(Files.readAllBytes(f.toPath)) else None
      val same = (disk, fresh.get((x, y))) match {
        case (Some(a), Some(b)) => java.util.Arrays.equals(a, b)
        case (None, None) => true
        case _ => false
      }
      if (!same) problems += s"refreshed tile $maxZoom/$x/$y differs from a fresh render of the edited snapshot"
    }
    problems.toSeq
  }

  /** key_pairs and fragments from the tiling query's generators. */
  private def planCounters(plan: org.apache.spark.sql.execution.SparkPlan, c: mutable.Map[String, Double]): Unit =
    PlanStats.nodes(plan).foreach {
      case (g: org.apache.spark.sql.execution.GenerateExec, 1) =>
        val key = if (g.generator.toString.toLowerCase.contains("fragments")) "tiling.fragments" else "tiling.key_pairs"
        c(key) += PlanStats.rows(g).toDouble
      case _ =>
    }

  private def check(i: Int, snapshot: DataFrame, dir: File, tiles: Seq[(Int, Int, Int, Int, Int)],
      counters: mutable.Map[String, Double]): Seq[String] = {
    import spark.implicits._
    val problems = mutable.ArrayBuffer.empty[String]
    // 1) snapshot: counts by (type, visible) and every geometry as intended
    val rows = snapshot.select(col("_type"), col("id"), col("visible"), st_asWKB(col("geom")))
      .as[(Byte, Long, Boolean, Array[Byte])].collect()
    def countsOf(xs: Iterable[(Byte, Boolean)]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val got = countsOf(rows.map(r => (r._1, r._3)))
    val want = countsOf(input.intended.toSeq.map { case ((t, _), v) => (t, v.visible) })
    if (got != want) problems += s"snapshot counts by (type, visible) $got != intended $want"
    val seen = mutable.HashSet.empty[(Byte, Long)]
    rows.foreach { case (t, id, visible, wkb) =>
      if (!seen.add((t, id))) problems += s"snapshot holds ($t, $id) twice"
      input.intended.get((t, id)) match {
        case None => problems += s"snapshot holds unexpected ($t, $id)"
        case Some(w) =>
          val g = if (wkb == null) null else Wkb.read(wkb)
          val same = g != null && (if (t == Osm.RelationType) g.equalsTopo(w.geom) else g.equalsExact(w.geom))
          if (w.visible != visible || !same) problems += s"snapshot ($t, $id) differs from the intended geometry"
      }
    }
    // 2) every tile is on disk with its row's size and decodes as MVT to at
    // most the row's feature count
    val sorted = tiles.sortBy(t => (t._1, t._2, t._3))
    val onDisk = sorted.map { case (z, x, y, _, bytes) =>
      val f = Checks.tileFile(dir, z, x, y)
      if (!f.isFile) { problems += s"tile $z/$x/$y missing on disk"; Array.emptyByteArray }
      else {
        val b = Files.readAllBytes(f.toPath)
        if (b.length != bytes) problems += s"tile $z/$x/$y has ${b.length} bytes, row says $bytes"
        b
      }
    }
    val decoded = sorted.zip(Checks.decodedFeatures(onDisk)).map { case ((z, x, y, features, _), dec) =>
      if (dec > features) problems += s"tile $z/$x/$y decodes to $dec features, row says $features"
      (z, x, y, features, dec)
    }.toIndexedSeq
    if (counters("sink.files") != tiles.size) problems += s"sink wrote ${counters("sink.files")} tiles, job made ${tiles.size}"
    counters("mvt.empty_fragments") = decoded.map(t => t._4 - t._5).sum.toDouble
    // 3) a seeded sample of tiles against a JTS-only recount of the snapshot:
    // the row's feature count must equal the fragments routed to the tile
    // and the decoded count the fragments that encode to a non-empty geometry
    val visible = rows.filter(r => r._3 && r._4 != null).map(r => Wkb.read(r._4)).toSeq
    val rng = new Rng(seed * 31 + i)
    if (decoded.nonEmpty) (0 until 8).foreach { _ =>
      val (z, x, y, features, dec) = rng.pick(decoded)
      val (routed, encoded) = Checks.recount(visible, z, x, y)
      if (features != routed) problems += s"tile $z/$x/$y: row holds $features features, JTS recount routes $routed"
      if (dec != encoded) problems += s"tile $z/$x/$y decodes to $dec features, JTS recount encodes $encoded"
    }
    problems.take(20).toSeq
  }

  def kernelSample(n: Int): (Seq[Geometry], Int) = {
    val all = input.intended.toSeq.sortBy(_._1).map(_._2.geom).toIndexedSeq
    val rng = new Rng(seed + 17)
    (Seq.fill(n)(rng.pick(all)), maxZoom)
  }
}

// ---------------------------------------------------------------------------

/** Clustered points x irregular polygons: pipBroadcastIds and pipCellJoin. */
final class PipJoin(ctx: Ctx) extends Workload {
  import ctx._
  val name = "pip_join"
  val cellLevel = 10
  val warmUpOps = 4
  private var input: PipInput = _
  private var points: DataFrame = _
  private var polys: DataFrame = _
  /** Cell equi-join rows of pipCellJoin's plan; the inputs are fixed for a set-up. */
  private var candidates = -1L

  def setup(): Unit = {
    teardown()
    val t0 = System.nanoTime()
    input = PipGen.generate(seed, scale)
    val t1 = System.nanoTime()
    points = ctx.table(input.points.toSeq.map { case (id, x, y) => Row(id, x, y) },
        StructType(Seq(StructField("id", LongType), StructField("x", DoubleType), StructField("y", DoubleType))))
      .select(col("id"), st_point(col("x"), col("y")).as("geom"))
      .persist()
    points.count()
    polys = ctx.table(input.polys.map { case (id, g) => Row(id, Wkb.write(g)) },
        StructType(Seq(StructField("poly_id", LongType), StructField("wkb", BinaryType))))
      .select(col("poly_id"), st_geomFromWKB(col("wkb")).as("geom"))
      .persist()
    polys.count()
    candidates = -1L
    Main.log(f"$name: ${input.points.length} points, ${input.polys.size} polygons, generated in " +
      f"${(t1 - t0) / 1e9}%.2f s, loaded in ${(System.nanoTime() - t1) / 1e9}%.2f s")
  }

  def teardown(): Unit = {
    Option(points).foreach(Checks.release); Option(polys).foreach(Checks.release)
    points = null; polys = null
  }

  /** Rows of a join plan's cell equi-join before the refine. The optimizer
    * pushes the refine predicate into the join's condition, so the join
    * node's own row count is the refined pairs: re-plan the optimized join
    * with only its equi-join keys as the condition and count it.
    */
  private def cellCandidates(joined: DataFrame): Long = {
    val equiJoin = joined.queryExecution.optimizedPlan.collectFirst {
      case j @ ExtractEquiJoinKeys(_, lk, rk, _, _, _, _, _) =>
        j.asInstanceOf[Join].copy(condition = Some(lk.zip(rk).map { case (l, r) => EqualTo(l, r): Expression }.reduce(And)))
    }.getOrElse(throw new IllegalStateException("pipCellJoin's plan has no equi-join"))
    spark.sessionState.executePlan(equiJoin).toRdd.count()
  }

  /** Output rows materialized into the cache, as a caller keeping the pairs would. */
  private def materialize(df: DataFrame): DataFrame = {
    df.persist()
    df.groupBy().count().collect()
    df
  }

  def op(i: Int, traced: Boolean): OpOutcome = {
    import spark.implicits._
    val tr = tracer
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val t0 = System.nanoTime()
    val b = tr.span("joins.pipBroadcastIds") {
      materialize(vps.joins.SpatialJoins.pipBroadcastIds(points, polys))
    }
    val t1 = System.nanoTime()
    val cellJoin = vps.joins.SpatialJoins.pipCellJoin(points, polys, cellLevel)
    val c = tr.span("joins.pipCellJoin") {
      materialize(cellJoin.select(col("id"), col("poly_id")))
    }
    val t2 = System.nanoTime()
    heap.sample() // both joins' pairs are cached
    val n = input.points.length.toDouble
    if (candidates < 0) candidates = tr.span("bench.check")(cellCandidates(cellJoin))
    counters("joins.cell_candidates") = candidates.toDouble
    counters("joins.broadcast_s") = (t1 - t0) / 1e9
    counters("joins.cell_s") = (t2 - t1) / 1e9
    counters("joins.broadcast_pts_per_s") = n / counters("joins.broadcast_s")
    counters("joins.cell_pts_per_s") = n / counters("joins.cell_s")

    val problems = mutable.ArrayBuffer.empty[String]
    try tr.span("bench.check") {
      val pb = b.as[(Long, Long)].collect().sorted
      val pc = c.as[(Long, Long)].collect().sorted
      counters("joins.hits") = pc.length.toDouble
      counters("pairs") = pb.length.toDouble
      if (!java.util.Arrays.equals(pb.map(p => p._1 * 1000003L + p._2), pc.map(p => p._1 * 1000003L + p._2)) ||
          pb.length != pc.length)
        problems += s"broadcast join returned ${pb.length} pairs, cell join ${pc.length}; the pair sets differ"
      // seeded point sample against brute-force JTS containment
      val rng = new Rng(seed * 31 + i)
      val sample = Seq.fill(300)(input.points(rng.int(0, input.points.length)))
      val byPoint = pb.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      sample.foreach { case (id, x, y) =>
        val pt = vps.geom.Geo.point(x, y)
        val want = input.polys.collect { case (pid, g) if g.getEnvelopeInternal.contains(x, y) && g.intersects(pt) => pid }.toSet
        val got = byPoint.getOrElse(id, Set.empty[Long])
        if (got != want) problems += s"point $id: join says ${got.toSeq.sorted}, JTS says ${want.toSeq.sorted}"
      }
    } finally { b.unpersist(); c.unpersist() }
    OpOutcome((t2 - t0) / 1e9, problems.take(20).toSeq, counters.toMap)
  }

  def kernelSample(n: Int): (Seq[Geometry], Int) = {
    val rng = new Rng(seed + 17)
    (Seq.fill(n)(if (rng.chance(0.5)) rng.pick(input.polys)._2
      else { val (_, x, y) = input.points(rng.int(0, input.points.length)); vps.geom.Geo.point(x, y) }), cellLevel)
  }
}

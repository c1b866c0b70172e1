package perfbench

import org.locationtech.jts.geom._

import vps.geom.{TileMath, Wkb}
import vps.kernels.{Clip, RelationAssembly, Simplify, WayAssembly}
import vps.mvt.{Mvt, TileBuilder}

/** Single-threaded JVM loops over a seeded sample of a workload's own
  * geometries: ns per item for the per-row kernels the pipelines run.
  */
object Kernels {
  /** Median ns per item over timed passes (after one warm pass). */
  private def nsPerItem(items: Int)(pass: => Unit): Double =
    if (items == 0) 0.0
    else {
      pass
      val times = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      while (times.size < 5 || (System.nanoTime() - t0 < 50000000L && times.size < 200)) {
        val s = System.nanoTime(); pass; times += System.nanoTime() - s
      }
      times.sorted.apply(times.size / 2).toDouble / items
    }

  @volatile private var sink: Any = null // keeps results observable

  def measure(sample: Seq[Geometry], zoom: Int): Map[String, Double] = {
    val geoms = sample.filter(g => g != null && !g.isEmpty).toIndexedSeq
    val tol = Simplify.toleranceForZoom(zoom)
    val pairs = geoms.flatMap(g => TileMath.keysForGeometry(g, zoom).take(4)
      .map { case (x, y) => (g, x, y, TileMath.tileEnvelopeLatLng(zoom, x, y)) })
    val clipped = pairs.map { case (g, x, y, env) => (Clip(g, env), x, y) }.filterNot(_._1.isEmpty)
    val local = clipped.map { case (g, x, y) => TileBuilder.lonLatToTile(zoom, x, y).transform(g) }
    val encoded = local.map(Mvt.encodeGeometryPacked)
    val raw = encoded.zipWithIndex.map { case ((t, p), i) => Mvt.RawFeature(i.toLong, t, p) }
    val wkbs = geoms.map(Wkb.write)

    val ways: IndexedSeq[(Seq[(Double, Double)], Boolean)] = geoms.collect {
      case p: Polygon => (p.getExteriorRing.getCoordinates.toSeq.map(c => (c.x, c.y)), true)
      case l: LineString => (l.getCoordinates.toSeq.map(c => (c.x, c.y)), false)
    }
    // a polygon as a relation: its shell split over two open member ways, holes as closed ways
    val relations = geoms.collect { case p: Polygon if p.getNumPoints >= 8 =>
      val shell = p.getExteriorRing.getCoordinates
      val mid = shell.length / 2
      val f = vps.geom.Geo.factory
      val members = Seq(f.createLineString(shell.take(mid + 1)), f.createLineString(shell.drop(mid))) ++
        (0 until p.getNumInteriorRing).map(i => f.createLineString(p.getInteriorRingN(i).getCoordinates))
      (members.map(_ => RelationAssembly.WayType), Seq("outer", "outer") ++ Seq.fill(p.getNumInteriorRing)("inner"),
        members: Seq[Geometry])
    }

    Map(
      "kernels.simplify_ns" -> nsPerItem(geoms.size)(geoms.foreach(g => sink = Simplify.douglasPeucker(g, tol))),
      "kernels.clip_ns" -> nsPerItem(pairs.size)(pairs.foreach { case (g, _, _, env) => sink = Clip(g, env) }),
      "kernels.way_assembly_ns" -> nsPerItem(ways.size)(ways.foreach { case (c, a) => sink = WayAssembly.assemble(c, a) }),
      "kernels.multipolygon_ns" -> nsPerItem(relations.size)(relations.foreach { case (t, r, g) =>
        sink = RelationAssembly.buildMultiPolygon(t, r, g) }),
      "mvt.encode_ns" -> nsPerItem(local.size)(local.foreach(g => sink = Mvt.encodeGeometryPacked(g))),
      "mvt.layer_encode_ns" -> nsPerItem(raw.size){ sink = Mvt.encodeLayerRawBytes("features", 4096, raw) },
      "geom.wkb_read_ns" -> nsPerItem(wkbs.size)(wkbs.foreach(b => sink = Wkb.read(b))),
      "geom.wkb_write_ns" -> nsPerItem(geoms.size)(geoms.foreach(g => sink = Wkb.write(g))),
      "geom.tile_keys_ns" -> nsPerItem(geoms.size)(geoms.foreach(g => sink = TileMath.keysForGeometry(g, zoom))))
  }
}

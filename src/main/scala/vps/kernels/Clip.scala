package vps.kernels

import org.locationtech.jts.geom._
import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}
import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.control.NonFatal
import vps.geom.Geo

/** Dimension-preserving clip of a geometry to a tile extent, with a timeout guard
  * for pathological geometries.
  *
  * Behavior matches the reference's rules
  * (`/root/reference/src/main/scala/vectorpipe/vectortile/Clipping.scala:10-92`,
  * timeout `vectortile/package.scala:64-72`):
  * - Point: passthrough (keyed to the tile means it intersects by definition)
  * - Line family: keep only linear parts of the intersection; point-dimensional
  *   results collapse to an empty MultiLineString
  * - Polygon family: keep only areal parts; lower-dimensional results collapse to
  *   an empty MultiPolygon
  * - empty intersection or timeout: return the ORIGINAL geometry (the reference
  *   warns and passes it through rather than dropping data)
  *
  * The intersection is JTS OverlayNG (`OverlayNGRobust`), not the legacy
  * `Geometry.intersection`: OverlayNG first cuts the input's rings and lines
  * down to the tile envelope and only then nodes them, so clipping a large
  * feature to one tile costs roughly the part of the feature near that tile
  * instead of the whole feature (a 9.6k-vertex multipolygon over 25 tiles was
  * noded 25 times). Its non-strict result can mix dimensions (polygons plus a
  * collapsed boundary line); the per-family part filter removes the extras.
  */
object Clip {
  val DefaultTimeout: Duration = 5.seconds

  /** Below this vertex count the intersection runs inline: JTS overlay on a
    * small geometry cannot meaningfully hang, and the Future + Await handoff
    * to the global pool is measurable at per-feature-per-tile frequency. The
    * timeout guard exists for pathological MULTI-thousand-vertex geometries
    * (reference `vectortile/package.scala:64-72`), which keep it.
    */
  val TimeoutGuardMinPoints: Int = 10000

  /** None on a timeout or a topology failure. Only non-fatal errors are
    * caught: an interrupt (task kill) or a fatal JVM error propagates. A
    * guarded clip with a non-positive timeout times out at once, without
    * starting its overlay.
    */
  def timedIntersect(g: Geometry, extent: Geometry, timeout: Duration = DefaultTimeout): Option[Geometry] = {
    def overlay = OverlayNGRobust.overlay(g, extent, OverlayNG.INTERSECTION)
    if (g.getNumPoints < TimeoutGuardMinPoints) try Some(overlay) catch { case NonFatal(_) => None }
    else if (timeout <= Duration.Zero) None
    else try Some(Await.result(Future(overlay), timeout)) catch { case NonFatal(_) => None }
  }

  private[kernels] def collectParts[T <: Geometry](g: Geometry, cls: Class[T]): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    def walk(x: Geometry): Unit = x match {
      case gc: GeometryCollection => (0 until gc.getNumGeometries).foreach(i => walk(gc.getGeometryN(i)))
      case other if cls.isInstance(other) => out += other.asInstanceOf[T]
      case _ => ()
    }
    walk(g)
    out.toSeq
  }

  def apply(geom: Geometry, env: Envelope, timeout: Duration = DefaultTimeout,
      onFailure: () => Unit = () => ()): Geometry = {
    lazy val extent = Geo.factory.toGeometry(env) // points never build it
    // None = timeout or topology exception (original passes through): report
    // to the caller's error channel so fallbacks are counted, never silent
    def intersect(g: Geometry): Option[Geometry] = {
      val r = timedIntersect(g, extent, timeout)
      if (r.isEmpty) onFailure()
      r
    }
    geom match {
      case p: Point => p
      case mp: MultiPoint =>
        intersect(mp) match {
          case Some(r) if !r.isEmpty =>
            collectParts(r, classOf[Point]) match {
              case Seq(one) => one
              case pts      => Geo.factory.createMultiPoint(pts.toArray)
            }
          case _ => geom // empty/timeout: pass through
        }
      case _: LineString | _: MultiLineString =>
        intersect(geom) match {
          case Some(r) if !r.isEmpty =>
            collectParts(r, classOf[LineString]) match {
              case Seq()    => Geo.factory.createMultiLineString(Array.empty) // point-dim result
              case Seq(one) => one
              case ls       => Geo.factory.createMultiLineString(ls.toArray)
            }
          case _ => geom
        }
      case _: Polygon | _: MultiPolygon =>
        intersect(geom) match {
          case Some(r) if !r.isEmpty =>
            collectParts(r, classOf[Polygon]) match {
              case Seq()    => Geo.factory.createMultiPolygon(Array.empty) // lower-dim result
              case Seq(one) => one
              case ps       => Geo.factory.createMultiPolygon(ps.toArray)
            }
          case _ => geom
        }
      case gc: GeometryCollection =>
        // split by family, clip each, regroup (the reference never sees mixed
        // collections here; we tolerate them)
        val parts = (0 until gc.getNumGeometries).map(i => apply(gc.getGeometryN(i), env, timeout, onFailure))
        Geo.factory.createGeometryCollection(parts.filterNot(_.isEmpty).toArray)
      case other => other
    }
  }
}

package perfbench

import scala.collection.mutable

import org.locationtech.jts.geom.Geometry

/** Point-in-polygon inputs: clustered points and irregular polygons. */
final case class PipInput(points: Array[(Long, Double, Double)], polys: IndexedSeq[(Long, Geometry)])

object PipGen {
  val region: Region = Region(0.0, 42.0, 12.0, 50.0)

  private def n(base: Int, scale: Double): Int = math.max(1, math.round(base * scale).toInt)

  def generate(seed: Long, scale: Double): PipInput = {
    val rng = new Rng(seed ^ 0x919L)
    val hot = region.hotSpots(rng, 60)
    val polys = mutable.ArrayBuffer.empty[(Long, Geometry)]
    // three country-sized polygons, two holes each
    Seq((2.5, 45.5), (6.5, 46.0), (10.0, 45.0)).foreach { case (x, y) =>
      val cx = x; val cy = y
      val r = 1.6
      val aspect = math.cos(math.toRadians(cy))
      val holes = Seq(0.0, math.Pi).map { a =>
        Shapes.starRing(rng, cx + 0.5 * r * math.cos(a) / aspect, cy + 0.5 * r * math.sin(a), 0.25, 200, 0.2)
      }
      polys += ((polys.length.toLong, Shapes.polygon(
        Shapes.starRing(rng, cx, cy, r, math.max(400, (2000 * scale).toInt), 0.2), holes)))
    }
    // a few thousand irregular polygons, many-vertex tail, some with a hole
    (0 until n(800, scale)).foreach { _ =>
      val (cx, cy) = region.place(rng, hot, 0.5, 0.5)
      val r = math.max(0.01, math.min(0.3, 0.03 * math.exp(0.7 * rng.gaussian())))
      val u = rng.uniform(0, 1)
      val nv = if (u < 0.80) rng.int(20, 60) else if (u < 0.98) rng.int(60, 300) else rng.int(300, 2000)
      val holes = if (rng.chance(0.15)) Seq(Shapes.starRing(rng, cx, cy, 0.3 * r, rng.int(12, 40))) else Nil
      polys += ((polys.length.toLong, Shapes.polygon(Shapes.starRing(rng, cx, cy, r, nv), holes)))
    }
    val points = Array.tabulate(n(15000, scale)) { i =>
      val (x, y) = region.place(rng, hot, 0.7, 0.15)
      (i.toLong, x, y)
    }
    PipInput(points, polys.toIndexedSeq)
  }
}

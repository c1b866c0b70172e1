package perfbench

import java.util.SplittableRandom

import org.locationtech.jts.geom.{Coordinate, Geometry, LineString, Polygon}

import vps.geom.Geo

/** Seeded input generators. Every workload's inputs are a pure function of
  * (seed, scale); the engine only ever sees the tables built from them.
  */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def uniform(lo: Double, hi: Double): Double = lo + (hi - lo) * r.nextDouble()
  def int(lo: Int, hiExclusive: Int): Int = r.nextInt(lo, hiExclusive)
  def chance(p: Double): Boolean = r.nextDouble() < p
  def gaussian(): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }
  /** Heavy-tailed vertex count: most in [lo, mid), a tail up to `hi`. */
  def vertexCount(lo: Int, mid: Int, hi: Int, tailShare: Double): Int =
    if (chance(tailShare)) int(mid, hi) else int(lo, mid)
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
}

/** A rectangular lon/lat region with a few hot spots that concentrate a share
  * of the features (hot-tile clustering).
  */
final case class Region(lon0: Double, lat0: Double, lon1: Double, lat1: Double) {
  /** `n` hot spots, one per cell of a jittered grid over the inner 70% of
    * the region: clustered, yet spread alike whatever the seed.
    */
  def hotSpots(rng: Rng, n: Int): IndexedSeq[(Double, Double)] = {
    val g = math.ceil(math.sqrt(n.toDouble)).toInt
    val cells = (0 until g * g).map(c => (c % g, c / g, rng.uniform(0, 1))).sortBy(_._3).take(n)
    val (x0, y0) = (lon0 + 0.15 * (lon1 - lon0), lat0 + 0.15 * (lat1 - lat0))
    val (w, h) = (0.7 * (lon1 - lon0) / g, 0.7 * (lat1 - lat0) / g)
    cells.map { case (cx, cy, _) => (x0 + w * (cx + rng.uniform(0, 1)), y0 + h * (cy + rng.uniform(0, 1))) }
  }
  def clamp(lon: Double, lat: Double): (Double, Double) =
    (math.max(lon0, math.min(lon1, lon)), math.max(lat0, math.min(lat1, lat)))
  /** A location: inside a hot spot (gaussian, `sigma` degrees) with
    * probability `hotShare`, uniform over the region otherwise.
    */
  def place(rng: Rng, hot: IndexedSeq[(Double, Double)], hotShare: Double, sigma: Double): (Double, Double) =
    if (hot.nonEmpty && rng.chance(hotShare)) {
      val (cx, cy) = rng.pick(hot)
      clamp(cx + sigma * rng.gaussian(), cy + sigma * rng.gaussian())
    } else (rng.uniform(lon0, lon1), rng.uniform(lat0, lat1))
}

object Shapes {
  /** Star-shaped simple ring around (cx, cy): `n` vertices at increasing
    * angles, radius modulated by low-frequency waves plus jitter. Open
    * (first vertex not repeated). Simple by construction.
    */
  def starRing(rng: Rng, cx: Double, cy: Double, radius: Double, n: Int,
      roughness: Double = 0.25): Array[(Double, Double)] = {
    val p1 = rng.uniform(0, 2 * math.Pi); val p2 = rng.uniform(0, 2 * math.Pi)
    val k1 = rng.int(2, 5); val k2 = rng.int(5, 11)
    val aspect = math.cos(math.toRadians(cy)) // roughly round on the ground
    Array.tabulate(n) { i =>
      val a = 2 * math.Pi * i / n
      val rr = radius * (1.0 + roughness * (0.6 * math.sin(k1 * a + p1) +
        0.3 * math.sin(k2 * a + p2) + 0.1 * rng.uniform(-1, 1)))
      (cx + rr * math.cos(a) / aspect, cy + rr * math.sin(a))
    }
  }

  /** Random walk polyline of `n` vertices starting at (x, y). */
  def walk(rng: Rng, x: Double, y: Double, n: Int, step: Double): Array[(Double, Double)] = {
    var heading = rng.uniform(0, 2 * math.Pi)
    var cx = x; var cy = y
    Array.tabulate(n) { i =>
      if (i > 0) {
        heading += rng.uniform(-0.6, 0.6)
        cx += step * rng.uniform(0.5, 1.5) * math.cos(heading)
        cy += step * rng.uniform(0.5, 1.5) * math.sin(heading)
      }
      (cx, cy)
    }
  }

  def coords(pts: Array[(Double, Double)]): Array[Coordinate] = pts.map { case (x, y) => new Coordinate(x, y) }
  def closed(pts: Array[(Double, Double)]): Array[Coordinate] = coords(pts :+ pts.head)
  def line(pts: Array[(Double, Double)]): LineString = Geo.factory.createLineString(coords(pts))
  def polygon(shell: Array[(Double, Double)], holes: Seq[Array[(Double, Double)]] = Nil): Polygon =
    Geo.factory.createPolygon(Geo.factory.createLinearRing(closed(shell)),
      holes.map(h => Geo.factory.createLinearRing(closed(h))).toArray)
  def point(x: Double, y: Double): Geometry = Geo.point(x, y)
}

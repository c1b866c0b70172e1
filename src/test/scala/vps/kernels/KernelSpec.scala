package vps.kernels

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import vps.geom.{Geo, TileMath, Wkt}

class KernelSpec extends AnyFunSuite {
  private def line(pts: (Double, Double)*): LineString =
    Geo.factory.createLineString(pts.map { case (x, y) => new Coordinate(x, y) }.toArray)

  // ---- Segments ----

  test("connect chains segments forward and reversed") {
    val segs = Seq(line((0, 0), (1, 0)), line((2, 0), (1, 0)), line((2, 0), (3, 0)))
    val out = Segments.connectLines(segs)
    assert(out.size === 1)
    assert(out.head.getCoordinates.map(c => (c.x, c.y)).toSeq ===
      Seq((0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (3.0, 0.0)))
  }

  test("connect leaves unconnectable chains separate") {
    val segs = Seq(line((0, 0), (1, 0)), line((5, 5), (6, 6)))
    assert(Segments.connectLines(segs).size === 2)
  }

  test("formRings closes a square from shuffled segments") {
    val segs = Seq(
      line((0, 0), (1, 0)), line((1, 1), (0, 1)), // will need chaining
      line((1, 0), (1, 1)), line((0, 1), (0, 0)))
    val rings = Segments.formRingPolygons(segs.map(_.asInstanceOf[LineString]))
    assert(rings.size === 1)
    assert(rings.head.isValid)
    assert(rings.head.getArea === 1.0)
  }

  test("formRings throws on open chains") {
    val segs = Seq(line((0, 0), (1, 0)), line((1, 0), (2, 2)))
    assertThrows[Segments.AssemblyException] {
      Segments.formRings(segs.map(_.getCoordinates))
    }
  }

  // ---- WayAssembly ----

  test("way assembly family rules") {
    assert(WayAssembly.assemble(Seq.empty, isArea = false).getGeometryType === "LineString")
    assert(WayAssembly.assemble(Seq.empty, isArea = false).isEmpty)
    assert(WayAssembly.assemble(Seq((1.0, 2.0)), isArea = false).getGeometryType === "Point")
    assert(WayAssembly.assemble(Seq((0.0, 0.0), (1.0, 1.0)), isArea = true).getGeometryType === "LineString")
    val sq = Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0))
    assert(WayAssembly.assemble(sq, isArea = true).getGeometryType === "Polygon")
    assert(WayAssembly.assemble(sq, isArea = false).getGeometryType === "LineString")
    assert(WayAssembly.assemble(Seq((0.0, 0.0), (Double.NaN, 1.0)), isArea = false) === null)
    // self-intersecting closed area -> invalid -> null
    val bowtie = Seq((0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0))
    assert(WayAssembly.assemble(bowtie, isArea = true) === null)
  }

  // ---- Routes ----

  test("route build groups by role and stitches") {
    val r = RelationAssembly.buildRoute(
      types = Seq(2, 2, 2),
      roles = Seq("forward", "forward", "backward"),
      geoms = Seq(line((0, 0), (1, 0)), line((1, 0), (2, 0)), line((9, 9), (8, 8))))
    assert(r.isDefined)
    val m = r.get.toMap
    assert(m("forward").getGeometryType === "LineString")
    assert(m("forward").getNumPoints === 3)
    assert(m("backward").getGeometryType === "LineString")
  }

  test("route build bails on missing way geometry") {
    assert(RelationAssembly.buildRoute(Seq(2, 2), Seq("", ""), Seq(line((0, 0), (1, 0)), null)) === None)
    assert(RelationAssembly.buildRoute(Seq.empty, Seq.empty, Seq.empty) === None)
  }

  // ---- Clip (dimension-preservation table, reference Clipping.scala rules) ----

  private val env = new Envelope(0, 10, 0, 10)

  test("clip: point passes through") {
    val p = Geo.point(5, 5)
    assert(Clip(p, env) eq p)
  }

  test("clip: line straddling extent is cut, dimension preserved") {
    val l = line((-5, 5), (15, 5))
    val c = Clip(l, env)
    assert(c.getGeometryType === "LineString")
    assert(c.getEnvelopeInternal.getMinX === 0.0 && c.getEnvelopeInternal.getMaxX === 10.0)
  }

  test("clip: line re-entering produces MultiLineString") {
    val l = line((-5, 2), (5, 2), (5, -2), (8, -2), (8, 2), (15, 2))
    val c = Clip(l, env)
    assert(c.getGeometryType === "MultiLineString")
    assert(c.getNumGeometries === 2)
  }

  test("clip: line touching boundary at a point yields empty MultiLineString") {
    val touch = line((0, 20), (20, 0)) // intersects the box only at corner (10,10)
    val c = Clip(touch, env)
    assert(c.getGeometryType === "MultiLineString" && c.isEmpty)
  }

  test("clip: polygon straddling is cut; sliver touch collapses to empty MultiPolygon") {
    val p = Geo.box(-5, 2, 5, 8)
    val c = Clip(p, env)
    assert(c.getGeometryType === "Polygon")
    assert(c.getEnvelopeInternal.getMinX === 0.0)
    // polygon touching only along an edge -> line intersection -> empty MultiPolygon
    val edge = Geo.box(-5, 0, 0, 10)
    val ce = Clip(edge, env)
    assert(ce.getGeometryType === "MultiPolygon" && ce.isEmpty)
  }

  test("clip: disjoint geometry passes through unchanged (reference behavior)") {
    val far = Geo.box(100, 100, 110, 110)
    assert(Clip(far, env) eq far)
  }

  test("clip: multipolygon split across extent keeps areal parts") {
    val mp = Geo.factory.createMultiPolygon(Array(Geo.box(2, 2, 4, 4), Geo.box(8, 8, 15, 15)))
    val c = Clip(mp, env)
    assert(c.getGeometryType === "MultiPolygon")
    assert(c.getNumGeometries === 2)
    assert(c.getEnvelopeInternal.getMaxX === 10.0)
  }

  test("clip: a polygon overlapping the tile and sharing an edge with its boundary keeps polygon parts only") {
    // a strip inside the tile (5..10 x 2..3) plus an outside lobe whose west
    // edge runs along the tile's east boundary from (10,6) to (10,8)
    val p = Wkt.read("POLYGON ((5 2, 12 2, 12 8, 10 8, 10 6, 11 6, 11 3, 5 3, 5 2))")
    val c = Clip(p, env)
    assert(c.getGeometryType === "Polygon")
    assert(c.getArea === 5.0)
    assert(c.getEnvelopeInternal === new Envelope(5, 10, 2, 3))
  }

  test("clip: an interrupt during the guarded clip propagates instead of counting as a failure") {
    val big = KernelSpec.star(5, 5, 5, KernelSpec.spread(200000), hole = false)
    assert(big.getNumPoints >= Clip.TimeoutGuardMinPoints)
    Thread.currentThread().interrupt()
    try assertThrows[InterruptedException](Clip.timedIntersect(big, Geo.factory.toGeometry(env)))
    finally Thread.interrupted() // clear the flag for the rest of the suite
  }

  test("clip: a non-positive timeout times out a guarded clip without starting its overlay") {
    // a 12k-vertex ring that counts reads of its coordinates; the guard reads only its size
    val reads = new java.util.concurrent.atomic.AtomicLong
    final class Counted(cs: Array[Coordinate]) extends impl.CoordinateArraySequence(cs) {
      private def read[T](v: => T): T = { reads.incrementAndGet(); v }
      override def getCoordinate(i: Int): Coordinate = read(super.getCoordinate(i))
      override def getCoordinate(i: Int, c: Coordinate): Unit = read(super.getCoordinate(i, c))
      override def getCoordinateCopy(i: Int): Coordinate = read(super.getCoordinateCopy(i))
      override def getX(i: Int): Double = read(super.getX(i))
      override def getY(i: Int): Double = read(super.getY(i))
      override def getOrdinate(i: Int, o: Int): Double = read(super.getOrdinate(i, o))
      override def toCoordinateArray: Array[Coordinate] = read(super.toCoordinateArray)
      override def expandEnvelope(e: Envelope): Envelope = read(super.expandEnvelope(e))
      override def copy(): impl.CoordinateArraySequence = read(super.copy())
    }
    val n = 12000
    val ring = (0 until n).map { i =>
      val t = 2 * math.Pi * i / n
      new Coordinate(3 + 8 * math.cos(t), 3 + 8 * math.sin(t))
    }
    val polygon = new Polygon(new LinearRing(new Counted((ring :+ ring.head).toArray), Geo.factory), null, Geo.factory)
    assert(polygon.getNumPoints >= Clip.TimeoutGuardMinPoints)
    val extent = Geo.factory.toGeometry(TileMath.tileEnvelopeLatLng(5, 16, 15))
    for (timeout <- Seq(scala.concurrent.duration.Duration.Zero, scala.concurrent.duration.Duration(-1, "ms"))) {
      reads.set(0)
      assert(Clip.timedIntersect(polygon, extent, timeout).isEmpty)
      // an overlay started on another thread would read the ring within this wait
      val deadline = System.nanoTime() + 1000000000L
      while (reads.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(reads.get === 0L, s"timeout $timeout")
    }
    // a positive timeout does run it
    assert(Clip.timedIntersect(polygon, extent, scala.concurrent.duration.Duration(30, "s")).nonEmpty)
    assert(reads.get > 0)
  }

  test("clip properties: inside the tile, family preserved, measure equals the legacy overlay") {
    val prop = Prop.forAll(KernelSpec.clipCase) { case (g, tile) =>
      val failures = KernelSpec.clipViolations(g, tile)
      Prop(failures.isEmpty) :| failures.mkString("; ")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(400)
      .withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  // ---- Simplify ----

  test("simplify: DP with tolerance 0 is identity on valid lines") {
    val l = line((0, 0), (1, 0.001), (2, 0), (3, 5), (4, 0))
    assert(Simplify.douglasPeucker(l, 0.0).equalsExact(l))
  }

  test("simplify: collinear vertices removed, topology preserved for rings") {
    val l = line((0, 0), (1, 0), (2, 0), (3, 0))
    val s = Simplify.douglasPeucker(l, 0.01)
    assert(s.getNumPoints === 2)
    val ring = Wkt.read("POLYGON ((0 0, 4 0.01, 8 0, 8 8, 0 8, 0 0))")
    val ts = Simplify.topologyPreserving(ring, 0.1).asInstanceOf[Polygon]
    assert(ts.isValid)
    assert(ts.getNumPoints < ring.getNumPoints)
  }

  test("simplify: zoom tolerance shrinks with zoom") {
    assert(Simplify.toleranceForZoom(14) < Simplify.toleranceForZoom(8))
    assert(Simplify.toleranceForZoom(8) === 360.0 / 256 / 4096)
  }
}

object KernelSpec {
  /** `n` vertex angle jitters and radius factors for [[star]], both in [0, 1). */
  def spread(n: Int, seed: Long = 7L): Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((rnd.nextDouble(), rnd.nextDouble()))
  }

  /** Star polygon around (cx, cy): vertex i sits at angle (i + jitter/4) of
    * 2π/n and radius r·(1 − depth·factor), so for n ≥ 8 and depth ≤ 0.7 the
    * ring is simple and contains the disc of radius 0.25·r; the optional hole
    * is a 16-gon of radius 0.15·r.
    */
  def star(cx: Double, cy: Double, r: Double, vs: Seq[(Double, Double)], hole: Boolean,
      depth: Double = 0.7): Polygon = {
    val n = vs.length
    val step = 2 * math.Pi / n
    val shell = vs.zipWithIndex.map { case ((jit, fac), i) =>
      val a = (i + jit / 4) * step
      val rr = r * (1 - depth * fac)
      new Coordinate(cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
    val holes =
      if (!hole) Array.empty[LinearRing]
      else {
        val h = (0 until 16).map { i =>
          val a = -i * 2 * math.Pi / 16
          new Coordinate(cx + 0.15 * r * math.cos(a), cy + 0.15 * r * math.sin(a))
        }
        Array(Geo.factory.createLinearRing((h :+ h.head).toArray))
      }
    Geo.factory.createPolygon(Geo.factory.createLinearRing((shell :+ shell.head).toArray), holes)
  }

  /** Random walk from (x, y): each step has length in [0, 0.2·r]. */
  def walk(x: Double, y: Double, r: Double, steps: Seq[(Double, Double)]): LineString = {
    val pts = steps.scanLeft(new Coordinate(x, y)) { case (c, (dir, len)) =>
      val a = dir * 2 * math.Pi
      val l = 0.2 * r * (1 - len)
      new Coordinate(c.x + l * math.cos(a), c.y + l * math.sin(a))
    }
    Geo.factory.createLineString(pts.toArray)
  }

  private val unitPair = Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0))

  /** A star polygon (with or without a hole) or a random-walk line sized
    * 0.2-3 tiles, and a z6-z16 tile picked through a point of its envelope.
    */
  val clipCase: Gen[(Geometry, Envelope)] = for {
    zoom <- Gen.choose(6, 16)
    cx <- Gen.choose(-170.0, 170.0)
    cy <- Gen.choose(-60.0, 60.0)
    size <- Gen.choose(0.2, 3.0)
    kind <- Gen.choose(0, 2)
    n <- Gen.choose(8, 400)
    vs <- Gen.listOfN(n, unitPair)
    uv <- unitPair
  } yield {
    val r = size * 360.0 / (1 << zoom)
    val g: Geometry = if (kind == 2) walk(cx, cy, r, vs) else star(cx, cy, r, vs, hole = kind == 1)
    val e = g.getEnvelopeInternal
    val px = e.getMinX + uv._1 * e.getWidth
    val py = e.getMinY + uv._2 * e.getHeight
    (g, TileMath.tileEnvelopeLatLng(zoom, TileMath.tileX(px, zoom), TileMath.tileY(py, zoom)))
  }

  /** What [[Clip]] of `g` to `tile` breaks, empty when nothing: every result
    * coordinate inside the tile (1e-12°), the input family kept, and the
    * area (areal) or length (linear) of the legacy `Geometry.intersection`,
    * after the same part filter, within 1e-9 relative. A pass-through result
    * is right only when the legacy intersection is empty too.
    */
  def clipViolations(g: Geometry, tile: Envelope): Seq[String] = {
    val areal = g.getDimension == 2
    val c = Clip(g, tile)
    val legacyRaw = g.intersection(Geo.factory.toGeometry(tile))
    if (c eq g) return if (legacyRaw.isEmpty) Nil else Seq(s"passed through, legacy gave $legacyRaw")
    val legacy = Clip.collectParts(legacyRaw, if (areal) classOf[Polygon] else classOf[LineString])
    val out = Seq.newBuilder[String]
    val grown = new Envelope(tile)
    grown.expandBy(1e-12)
    c.getCoordinates.find(p => !grown.contains(p)).foreach(p => out += s"coordinate $p outside")
    val family = if (areal) Set("Polygon", "MultiPolygon") else Set("LineString", "MultiLineString")
    if (!family(c.getGeometryType)) out += s"family ${g.getGeometryType} -> ${c.getGeometryType}"
    val (got, want) =
      if (areal) (c.getArea, legacy.map(_.getArea).sum) else (c.getLength, legacy.map(_.getLength).sum)
    if (math.abs(got - want) > 1e-9 * math.max(math.abs(got), math.abs(want)))
      out += s"measure $got vs legacy $want"
    out.result()
  }
}

package vps.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, CoordinateFilter, Geometry}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

import vps.geom.{CellId, Geo, GeometryUDT, Proj, TileMath, Wkb, Wkt}
import vps.kernels.{Clip, Simplify}

/** Static kernels of the geometry/tiling SQL functions (SURVEY.md §2.8
  * F20-F27), one per [[FunctionTable]] row; the table turns each into a
  * `StaticInvoke`, so they all run inside whole-stage codegen. Geometry
  * values travel as WKB inside the [[vps.geom.GeometryUDT]]; a geometry
  * parameter is `AnyRef` (Catalyst looks UDT arguments up as `Object`)
  * holding those bytes. Strings are `UTF8String`, arrays `ArrayData`.
  */
object GeomOps {
  private def geom(b: AnyRef): Geometry = Wkb.read(b.asInstanceOf[Array[Byte]])

  val TileKeyType: StructType =
    StructType(Seq(StructField("x", IntegerType, nullable = false),
      StructField("y", IntegerType, nullable = false)))

  def point(lon: Double, lat: Double): Array[Byte] = Wkb.write(Geo.point(lon, lat))
  /** st_geomFromWKB and st_asWKB: WKB is the storage format (validated lazily). */
  def bytes(b: AnyRef): Array[Byte] = b.asInstanceOf[Array[Byte]]
  def asText(b: AnyRef): UTF8String = UTF8String.fromString(Wkt.write(geom(b)))

  // plain 2-D point WKB (21 bytes): read the coordinate straight off the
  // buffer — st_x/st_y over a point corpus are hot-path calls and the full
  // parse allocates a geometry per call (the allocation stream is what stops
  // thread-scaling); bits are identical to what WKBReader yields
  def stx(g: AnyRef): Double = {
    val b = g.asInstanceOf[Array[Byte]]
    if (b.length == 21 && pointWkbType(b)) readPointDouble(b, 5) else Wkb.read(b).getCoordinate.x
  }
  def sty(g: AnyRef): Double = {
    val b = g.asInstanceOf[Array[Byte]]
    if (b.length == 21 && pointWkbType(b)) readPointDouble(b, 13) else Wkb.read(b).getCoordinate.y
  }
  private def pointWkbType(b: Array[Byte]): Boolean = {
    val bb = java.nio.ByteBuffer.wrap(b)
    if (b(0) == 1) bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.getInt(1) == 1
  }
  private def readPointDouble(b: Array[Byte], off: Int): Double = {
    val bb = java.nio.ByteBuffer.wrap(b)
    if (b(0) == 1) bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.getDouble(off)
  }

  def area(b: AnyRef): Double = geom(b).getArea
  def length(b: AnyRef): Double = geom(b).getLength
  def numPoints(b: AnyRef): Int = geom(b).getNumPoints
  def numGeometries(b: AnyRef): Int = geom(b).getNumGeometries
  def isEmpty(b: AnyRef): Boolean = geom(b).isEmpty
  /** True when the geometry is valid under the OGC rules (JTS isValid). */
  def isValid(b: AnyRef): Boolean = geom(b).isValid
  def geometryType(b: AnyRef): UTF8String = UTF8String.fromString(geom(b).getGeometryType)
  def centroid(b: AnyRef): Array[Byte] = Wkb.write(geom(b).getCentroid)
  /** Repair invalid geometries (self-intersecting rings, bowties, duplicate
    * points) via JTS GeometryFixer — the column-level bad-geometry tolerance
    * that complements the ErrorChannel path: fix what is fixable instead of
    * nulling it. Valid input passes through structurally unchanged.
    */
  def makeValid(b: AnyRef): Array[Byte] = {
    val g = geom(b)
    Wkb.write(if (g.isValid) g else org.locationtech.jts.geom.util.GeometryFixer.fix(g))
  }
  /** Buffer by a distance in the geometry's coordinate units (JTS BufferOp,
    * default quadrant segments). Negative distances shrink polygons.
    */
  def buffer(b: AnyRef, d: Double): Array[Byte] = Wkb.write(geom(b).buffer(d))
  def convexHull(b: AnyRef): Array[Byte] = Wkb.write(geom(b).convexHull())
  /** Envelope as a polygon (JTS getEnvelope: point/degenerate inputs shrink). */
  def envelope(b: AnyRef): Array[Byte] = Wkb.write(geom(b).getEnvelope)
  /** Topological boundary (polygon -> rings, line -> endpoints). */
  def boundary(b: AnyRef): Array[Byte] = Wkb.write(geom(b).getBoundary)
  def distance(a: AnyRef, b: AnyRef): Double = geom(a).distance(geom(b))

  // The binary constructive overlay ops run JTS's default `Geometry` overlay,
  // which in JTS 1.20 is the legacy overlay, not OverlayNG (only the tile
  // clip, `vps.kernels.Clip`, uses OverlayNG). Results are canonicalized with
  // norm() so output bytes do not depend on argument-evaluation artifacts.
  def intersection(a: AnyRef, b: AnyRef): Array[Byte] = Wkb.write(geom(a).intersection(geom(b)).norm())
  def union(a: AnyRef, b: AnyRef): Array[Byte] = Wkb.write(geom(a).union(geom(b)).norm())
  def difference(a: AnyRef, b: AnyRef): Array[Byte] = Wkb.write(geom(a).difference(geom(b)).norm())
  def symDifference(a: AnyRef, b: AnyRef): Array[Byte] = Wkb.write(geom(a).symDifference(geom(b)).norm())

  /** Closed-form EPSG:4326 -> EPSG:3857 (the reference's st_reprojectGeom defaults). */
  def toWebMercator(b: AnyRef): Array[Byte] = transformed(b, TileMath.lonToMercX, TileMath.latToMercY)
  def toLonLat(b: AnyRef): Array[Byte] = transformed(b, TileMath.mercXToLon, TileMath.mercYToLat)
  private def transformed(b: AnyRef, fx: Double => Double, fy: Double => Double): Array[Byte] = {
    val g = geom(b)
    g.apply(new CoordinateFilter {
      override def filter(c: Coordinate): Unit = { c.x = fx(c.x); c.y = fy(c.y) }
    })
    g.geometryChanged()
    Wkb.write(g)
  }

  def simplify(b: AnyRef, tolerance: Double, preserveTopology: Boolean): Array[Byte] = {
    val g = geom(b)
    Wkb.write(
      if (preserveTopology) Simplify.topologyPreserving(g, tolerance)
      else Simplify.douglasPeucker(g, tolerance))
  }

  def kRing(cell: Long, k: Int): ArrayData = new GenericArrayData(CellId.kRing(cell, k).toArray)

  /** All ZXY keys whose tile intersects the geometry envelope (reference
    * `keyTo`). Every map-side keying pipeline (tiles pack, rasterize, pyramid)
    * runs this per row, so it fast-paths plain 2-D point WKB (21 bytes -> the
    * single (tileX, tileY) key, no JTS parse — identical by construction:
    * keysForGeometry of a point's degenerate envelope IS that one key) and
    * builds the array data directly.
    */
  def tileKeys(g: AnyRef, zoom: Int): ArrayData = {
    val wkb = g.asInstanceOf[Array[Byte]]
    if (wkb.length == 21) {
      val bb = java.nio.ByteBuffer.wrap(wkb)
      if (wkb(0) == 1) bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (bb.getInt(1) == 1) {
        val px = bb.getDouble(5)
        val py = bb.getDouble(13)
        return new GenericArrayData(
          Array[Any](InternalRow(TileMath.tileX(px, zoom), TileMath.tileY(py, zoom))))
      }
    }
    val ks = TileMath.keysForGeometry(Wkb.read(wkb), zoom)
    val out = new Array[Any](ks.length)
    var i = 0
    while (i < ks.length) { out(i) = InternalRow(ks(i)._1, ks(i)._2); i += 1 }
    new GenericArrayData(out)
  }

  /** Parent-tile re-key (reference `reduceKeys`): (x,y) -> (x/2, y/2), deduplicated. */
  def parentTileKeys(keys: ArrayData): ArrayData = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    var i = 0
    while (i < keys.numElements) {
      val r = keys.getStruct(i, 2)
      seen += ((r.getInt(0) / 2, r.getInt(1) / 2))
      i += 1
    }
    new GenericArrayData(seen.map { case (x, y) => InternalRow(x, y) }.toArray)
  }

  /** All cell ids at `level` whose tile intersects the geometry envelope —
    * the polygon-side key generator for cell-partitioned spatial joins.
    */
  def cellsOf(b: AnyRef, level: Int): ArrayData = {
    val keys = TileMath.keysForGeometry(geom(b), level)
    new GenericArrayData(keys.map { case (x, y) => CellId.pack(level, x.toLong, y.toLong) }.toArray)
  }
}

/** Aggregate union — DISSOLVE: `groupBy(key).agg(st_union_agg(geom))`, the
  * PostGIS ST_Union(agg) analogue. Memory is BOUNDED and the collapse cost is
  * LOG-SHAPED: raw inputs batch up to [[StUnionAgg.BatchSize]] pending
  * geometries, each full batch cascades into one partial, and partials merge
  * through a SIZE-TIERED binomial counter (slot r holds one partial of ~2^r
  * batches; a carry unions only equal-magnitude partials). A 10^6-polygon
  * group therefore costs O(BatchSize + log n) buffered geometries and
  * O(n log n) total vertex work — a linear accumulate-into-one collapse would
  * re-walk the growing union every batch, O(n^2/BatchSize)
  * (measured 2758 us/box at n=10^5 vs 332 at n=1.25*10^4 before the fix).
  * The result is topologically deterministic regardless of partitioning
  * (union is associative/commutative); vertex order is canonicalized with
  * `norm()`.
  */
case class StUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
      StUnionAgg.UnionBuf]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import StUnionAgg.{BatchSize, UnionBuf}

  override def nullable: Boolean = true
  override def dataType: DataType = GeometryUDT.Instance
  override def createAggregationBuffer(): UnionBuf = new UnionBuf

  override def update(b: UnionBuf, input: InternalRow): UnionBuf = {
    val v = child.eval(input)
    if (v != null) {
      b.pending += Wkb.read(v.asInstanceOf[Array[Byte]])
      if (b.pending.length >= BatchSize) b.flushPending()
    }
    b
  }

  override def merge(b: UnionBuf, o: UnionBuf): UnionBuf = {
    b.pending ++= o.pending
    if (b.pending.length >= BatchSize) b.flushPending()
    var r = 0
    while (r < o.tiers.length) {
      // a shuffled partial re-enters at its own magnitude, not at rank 0
      if (o.tiers(r) != null) b.insert(o.tiers(r), r)
      r += 1
    }
    b
  }

  override def eval(b: UnionBuf): Any = {
    val all = b.all
    if (all.isEmpty) null
    else if (all.length == 1) Wkb.write(all.head.norm())
    else Wkb.write(StUnionAgg.clusterUnion(all).norm())
  }

  override def serialize(b: UnionBuf): Array[Byte] = {
    b.flushPending()
    val parts = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    var r = 0
    while (r < b.tiers.length) {
      if (b.tiers(r) != null) parts += ((r, Wkb.write(b.tiers(r))))
      r += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(parts.length)
    parts.foreach { case (rank, wkb) =>
      dos.writeInt(rank); dos.writeInt(wkb.length); dos.write(wkb)
    }
    dos.flush()
    out.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): UnionBuf = {
    val b = new UnionBuf
    if (bytes.nonEmpty) {
      val dis = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val n = dis.readInt()
      (0 until n).foreach { _ =>
        val rank = dis.readInt()
        val wkb = new Array[Byte](dis.readInt())
        dis.readFully(wkb)
        while (b.tiers.length <= rank) b.tiers += null
        // slots are unique in a serialized buffer; direct placement, no carry
        b.tiers(rank) = Wkb.read(wkb)
      }
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): StUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): StUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
object StUnionAgg {
  /** raw geometries per buffer before a cascaded-union collapse into a tier */
  val BatchSize = 64

  /** Size-tiered union state: `pending` holds < BatchSize raw inputs;
    * `tiers(r)` holds at most one partial made of ~2^r batches (null = empty
    * slot). Inserting at an occupied rank unions the two equal-magnitude
    * partials and carries the result to rank+1, binomial-heap style.
    */
  final class UnionBuf {
    val pending = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    val tiers = scala.collection.mutable.ArrayBuffer.empty[Geometry]

    def insert(g: Geometry, rank: Int): Unit = {
      var r = rank
      var cur = g
      while (r < tiers.length && tiers(r) != null) {
        cur = clusterUnion(Seq(cur, tiers(r)))
        tiers(r) = null
        r += 1
      }
      while (tiers.length <= r) tiers += null
      tiers(r) = cur
    }

    /** Cascade the pending batch into one partial and carry it into the tiers. */
    def flushPending(): Unit = if (pending.nonEmpty) {
      val u = if (pending.length == 1) pending.head else clusterUnion(pending.toSeq)
      pending.clear()
      insert(u, 0)
    }

    def all: Seq[Geometry] = (pending ++ tiers.filter(_ != null)).toSeq
  }

  /** Union that only pays overlay cost where geometries actually interact.
    * JTS's own cascaded union (and even envelope-disjoint binary union) is
    * SUPER-LINEAR in the component count of its inputs — measured 318 us/box
    * at n=1.25e4 vs 1363 at n=5e4 for UnaryUnionOp over fully disjoint boxes
    * (BENCH/BASELINE.md, "Dissolve cost shape fix") — because every
    * intermediate overlay re-nodes the accumulated component set. Here
    * components are first clustered by envelope overlap (STRtree +
    * union-find, O(n log n)); a real overlay union runs only WITHIN each
    * cluster (where boundaries can actually dissolve), and cluster results —
    * provably disjoint across clusters — are concatenated without noding.
    * Disjoint-heavy dissolve groups become ~linear; fully-overlapping input
    * degenerates to exactly the cascaded union it would run anyway.
    */
  def clusterUnion(geoms: Seq[Geometry]): Geometry = {
    val comps = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    geoms.foreach { g =>
      var i = 0
      while (i < g.getNumGeometries) {
        val c = g.getGeometryN(i)
        if (!c.isEmpty) comps += c // empty components have no envelope and no effect
        i += 1
      }
    }
    if (comps.isEmpty) return geoms.head // all-empty input: empty geometry through
    if (comps.length == 1) return comps.head
    val n = comps.length
    val tree = new org.locationtech.jts.index.strtree.STRtree()
    var i = 0
    while (i < n) { tree.insert(comps(i).getEnvelopeInternal, Integer.valueOf(i)); i += 1 }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < n) {
      val it = tree.query(comps(i).getEnvelopeInternal).iterator()
      while (it.hasNext) {
        val j = it.next().asInstanceOf[Integer].intValue()
        if (j != i) {
          val ri = find(i); val rj = find(j)
          if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
        }
      }
      i += 1
    }
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Geometry]]
    i = 0
    while (i < n) {
      groups.getOrElseUpdate(find(i),
        scala.collection.mutable.ArrayBuffer.empty[Geometry]) += comps(i)
      i += 1
    }
    val out = new java.util.ArrayList[Geometry](groups.size)
    groups.values.foreach { grp =>
      if (grp.length == 1) out.add(grp.head)
      else {
        val coll = new java.util.ArrayList[Geometry](grp.length)
        grp.foreach(coll.add)
        val u = org.locationtech.jts.operation.union.UnaryUnionOp.union(coll)
        var k = 0
        while (k < u.getNumGeometries) { out.add(u.getGeometryN(k)); k += 1 }
      }
    }
    if (out.size == 1) out.get(0) else comps.head.getFactory.buildGeometry(out)
  }
}

/** Thread-local LRU of parsed + prepared geometries, keyed by WKB content.
  * Spatial joins evaluate predicates with a small set of repeated geometries on
  * one side (polygons exploded over cells); caching turns a per-pair WKB parse
  * + fresh topology check into a PreparedGeometry hit.
  */
object GeomCache {
  /** A prepared geometry and the exact WKB it was prepared from. Hits are
    * verified with full `Arrays.equals` — O(len), but still far cheaper than
    * the WKB parse + prepare it saves, and immune to the head/tail-collision
    * trap (gridded multipart regions under one id share length, a
    * near-constant 8-byte header and a closing-vertex y — a weaker
    * discriminator silently reused stale geometry for those).
    */
  final class Entry(val wkb: Array[Byte]) {
    val prepared: PreparedGeometry = PreparedGeometryFactory.prepare(Wkb.read(wkb))
    def matches(other: Array[Byte]): Boolean = java.util.Arrays.equals(other, wkb)
  }
  private val cache = ThreadLocal.withInitial[java.util.LinkedHashMap[Integer, Entry]](() =>
    new java.util.LinkedHashMap[Integer, Entry](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Integer, Entry]): Boolean = size() > 48
    })
  def prepared(wkb: Array[Byte]): PreparedGeometry = {
    val key = Integer.valueOf(java.util.Arrays.hashCode(wkb))
    val m = cache.get()
    var e = m.get(key)
    if (e == null || !e.matches(wkb)) { e = new Entry(wkb); m.put(key, e) }
    e.prepared
  }
}

// State instances of the FunctionTable's StateKernel rows. Each reaches the
// plan as an object literal, so every task works on its own deserialized copy:
// `@transient lazy val` state is per task and single-threaded.

/** st_geomFromWKT: malformed input yields null (row kept) and, when an error
  * channel is attached, one tick on its accumulator — the reference's
  * RobustFeature/ErrorHandler tolerance surface: no silent drops, a global
  * malformed count with no extra job. A NaN or infinite x or y is malformed:
  * JTS parses `NaN` and `Infinity`, and every later overlay of such a
  * geometry fails (a clip pays all of OverlayNG's fallback attempts).
  */
final case class WktReader(errors: Option[vps.geom.ErrorChannel]) {
  def read(s: UTF8String): Array[Byte] =
    try {
      val g = Wkt.read(s.toString)
      if (!g.getCoordinates.forall(c => java.lang.Double.isFinite(c.x) && java.lang.Double.isFinite(c.y)))
        throw new IllegalArgumentException("non-finite coordinate")
      Wkb.write(g)
    } catch { case _: Exception => errors.foreach(_.increment()); null }
}

/** st_reproject: general closed-form reprojection between EPSG:4326 /
  * EPSG:3857 / UTM (EPSG:326xx/327xx) / Lambert conformal conic national
  * grids (EPSG:2154/3034/3978) — the reference's `st_reprojectGeom` surface
  * (`vectortile/package.scala:28-39`) without a native proj dependency.
  * `codes` holds the CRS codes when both arguments are foldable, parsed once
  * per task; None parses the per-row CRS columns per row.
  */
final case class Reprojection(codes: Option[(String, String)]) {
  @transient private lazy val parsed = codes.map { case (f, t) => (Proj.parse(f), Proj.parse(t)) }
  def reproject(b: AnyRef, fromC: UTF8String, toC: UTF8String): Array[Byte] = {
    val bytes = b.asInstanceOf[Array[Byte]]
    val (from, to) = parsed.getOrElse((Proj.parse(fromC.toString), Proj.parse(toC.toString)))
    if (from == to) return bytes
    val g = Wkb.read(bytes)
    g.apply(new CoordinateFilter {
      override def filter(c: Coordinate): Unit = {
        val (x, y) = Proj.transform(c.x, c.y, from, to)
        c.x = x; c.y = y
      }
    })
    g.geometryChanged()
    Wkb.write(g)
  }
}
object Reprojection {
  /** From the analyzed arguments (geom, from, to). */
  def of(args: Seq[Expression]): Reprojection = Reprojection(
    if (args(1).foldable && args(2).foldable)
      for (f <- Option(args(1).eval()); t <- Option(args(2).eval())) yield (f.toString, t.toString)
    else None)
}

/** st_contains, st_intersects and st_within against a point probe: the
  * prepared side comes from [[GeomCache]], and a point probe is read into one
  * reused mutable point instead of a parse per row (JTS predicates don't
  * retain the probe).
  */
final case class PointProbe() {
  @transient private lazy val probe = Geo.point(0, 0)
  private def point(b: AnyRef): Geometry = Wkb.readProbe(b.asInstanceOf[Array[Byte]], probe)
  private def prepared(b: AnyRef): PreparedGeometry = GeomCache.prepared(b.asInstanceOf[Array[Byte]])
  def contains(a: AnyRef, b: AnyRef): Boolean = prepared(a).contains(point(b))
  def intersects(a: AnyRef, b: AnyRef): Boolean = prepared(a).intersects(point(b))
  /** "a within b" (PostGIS argument order): the container is the RIGHT
    * operand, so that side is prepared/cached.
    */
  def within(a: AnyRef, b: AnyRef): Boolean = prepared(b).contains(point(a))
}

/** `st_intersects_keyed(key, a, b)`: `st_intersects` with a caller-supplied
  * UNIQUE key for the prepared (left) geometry: the prepared-geometry cache
  * is keyed by the long id instead of by WKB content, making the per-pair
  * cache probe O(1) instead of O(polygon bytes) ([[GeomCache]] hashes +
  * equality-checks the full WKB each evaluation — two passes over a
  * 10k-vertex polygon per candidate pair).
  *
  * Safety: the cache is per-task state, not a JVM-wide map, so entries can
  * never leak between tasks, queries, or sessions even when two queries reuse
  * the same id for different geometries. The caller's contract is that the
  * key identifies one geometry WITHIN the query (e.g. the join's `poly_id`);
  * as a guard against violations (multipart regions stored as several rows
  * under one id), every hit is verified against the row's full WKB bytes
  * ([[GeomCache.Entry]]) and silently re-prepared on mismatch — wrong-id rows
  * then cost cache churn, never wrong join results. The refine runs once per
  * candidate pair, so a point probe reuses one mutable point, as in
  * [[PointProbe]].
  */
final case class KeyedProbe() {
  @transient private lazy val cache =
    new java.util.LinkedHashMap[java.lang.Long, GeomCache.Entry](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[java.lang.Long, GeomCache.Entry]): Boolean =
        size() > 256
    }
  @transient private lazy val probe = Geo.point(0, 0)
  def intersects(k: Long, g: AnyRef, p: AnyRef): Boolean = {
    val key = java.lang.Long.valueOf(k)
    val wkb = g.asInstanceOf[Array[Byte]]
    var e = cache.get(key)
    if (e == null || !e.matches(wkb)) { e = new GeomCache.Entry(wkb); cache.put(key, e) }
    e.prepared.intersects(Wkb.readProbe(p.asInstanceOf[Array[Byte]], probe))
  }
}

/** The broadcast spatial probe (SURVEY.md §2.3 J9, the reference's
  * `util/Geocode.scala:61-106`) of `pipBroadcast`, `pipBroadcastIds`,
  * `Geocode.withRegions` and `Raster.zonalStats`: the small side's (key,
  * geometry) rows are collected once and broadcast, and each task builds one
  * STRtree of prepared geometries from the broadcast. The instance holds only
  * the broadcast handle, so the plan literal stays small whatever the side's
  * size. A side row is hit when its prepared geometry intersects the probe
  * (for a point: contains it or has it on its boundary); a point probe is
  * read into one reused mutable point, as in [[PointProbe]], and a null probe
  * hits nothing.
  */
final case class IndexProbe(side: Broadcast[Array[(Any, Array[Byte])]]) {
  /** `(key, PreparedGeometry)` items of the side, built once per task. */
  @transient lazy val index: STRtree = {
    val tree = new STRtree()
    val pf = new PreparedGeometryFactory
    side.value.foreach { case (key, wkb) =>
      val g = Wkb.read(wkb)
      tree.insert(g.getEnvelopeInternal, (key, pf.create(g)))
    }
    tree
  }
  @transient private lazy val probe = Geo.point(0, 0)
  @transient private lazy val found = new java.util.ArrayList[Any]()

  /** Keys of the side rows the probe `b` hits, one per row. */
  private def hits(b: AnyRef): java.util.ArrayList[Any] = {
    found.clear()
    if (b != null) {
      val g = Wkb.readProbe(b.asInstanceOf[Array[Byte]], probe)
      val candidates = index.query(g.getEnvelopeInternal).iterator()
      while (candidates.hasNext) {
        val (key, pg) = candidates.next().asInstanceOf[(Any, PreparedGeometry)]
        if (pg.intersects(g)) found.add(key)
      }
    }
    found
  }

  /** probe_ids: the ids of the hit rows, one element per row. */
  def ids(b: AnyRef): ArrayData = {
    val keys = hits(b)
    if (keys.isEmpty) IndexProbe.NoIds
    else UnsafeArrayData.fromPrimitiveArray(Array.tabulate(keys.size)(keys.get(_).asInstanceOf[Long]))
  }

  /** probe_names: the sorted distinct names of the hit rows. */
  def names(b: AnyRef): ArrayData = new GenericArrayData(
    hits(b).asScala.map(_.asInstanceOf[String]).distinct.sorted.map(UTF8String.fromString))
}
object IndexProbe {
  private val NoIds = UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])

  /** A probe over `side`'s (`idCol` cast to long, `geomCol`) rows. */
  def ofIds(side: DataFrame, idCol: String, geomCol: String): IndexProbe =
    broadcast(side.select(col(idCol).cast("long"), functions.st_asWKB(col(geomCol))), Encoders.scalaLong)

  /** A probe over `side`'s (`nameCol` as a string, `geomCol`) rows; rows
    * without a name are skipped.
    */
  def ofNames(side: DataFrame, nameCol: String, geomCol: String): IndexProbe =
    broadcast(side.where(col(nameCol).isNotNull)
      .select(col(nameCol).cast("string"), functions.st_asWKB(col(geomCol))), Encoders.STRING)

  private def broadcast[K](keyed: DataFrame, key: Encoder[K]): IndexProbe = {
    val rows = keyed.as[(K, Array[Byte])](Encoders.tuple(key, Encoders.BINARY)).collect()
    IndexProbe(keyed.sparkSession.sparkContext.broadcast(rows.asInstanceOf[Array[(Any, Array[Byte])]]))
  }
}

/** The tile clip of st_clipToTile and tile_fragments: a dimension-preserving
  * clip of a lon/lat geometry to tile (z, x, y) under `timeoutMs`. The error
  * channel counts intersection timeouts and failures, where the original
  * geometry passes through (reference `Clipping.scala` semantics).
  */
final case class TileClip(timeoutMs: Long, errors: Option[vps.geom.ErrorChannel]) {
  @transient private lazy val timeout = scala.concurrent.duration.Duration(timeoutMs, "ms")
  private def clipped(b: AnyRef, z: Int, x: Int, y: Int): Geometry =
    Clip(Wkb.read(b.asInstanceOf[Array[Byte]]), TileMath.tileEnvelopeLatLng(z, x, y), timeout,
      onFailure = () => errors.foreach(_.increment()))

  def clip(b: AnyRef, z: Int, x: Int, y: Int): Array[Byte] = Wkb.write(clipped(b, z, x, y))

  /** Fused clip → tile-local transform → MVT command-int encode, emitting 0
    * or 1 pre-encoded fragments (empty array = clip produced nothing).
    *
    * Returning an ARRAY consumed by `explode` is deliberate: a scalar
    * fragment + `WHERE isNotNull(...)` would let predicate pushdown
    * substitute the alias and evaluate the (expensive) clip twice per row; a
    * generator evaluates once. Encoding before the tile exchange means the
    * shuffle carries command-int payloads (a point is ~4-8 bytes vs 21-byte
    * WKB) and the post-shuffle phases never touch geometry again.
    */
  def fragments(b: AnyRef, z: Int, x: Int, y: Int, extent: Int, withArea: Boolean): ArrayData = {
    val g = clipped(b, z, x, y)
    if (g.isEmpty) TileClip.NoFragment
    else {
      val local = vps.mvt.TileBuilder.lonLatToTile(z, x, y, extent).transform(g)
      val (geomType, payload) = vps.mvt.Mvt.encodeGeometryPacked(local)
      val area = if (withArea) local.getArea else 0.0
      new GenericArrayData(Array[Any](InternalRow(geomType, area, payload)))
    }
  }
}
object TileClip {
  val FragmentType: ArrayType = ArrayType(StructType(Seq(
    StructField("geomType", IntegerType, nullable = false),
    StructField("area", DoubleType, nullable = false),
    StructField("payload", BinaryType, nullable = false))), containsNull = false)
  private val NoFragment = new GenericArrayData(Array.empty[Any])
}

// The tile plans' per-call values (a zoom, a tolerance, the fragment
// generator's zoom, extent and clip, a dirty-key set) ride in these state
// literals rather than in inlined literals, so a plan generates the same code
// for every zoom and every batch, and one compiled class serves them all.

/** `tile_keys` at `zoom` ([[GeomOps.tileKeys]]). */
final case class TileKeysAt(zoom: Int) {
  def keys(g: AnyRef): ArrayData = GeomOps.tileKeys(g, zoom)
}

/** `st_simplify` at a fixed tolerance ([[GeomOps.simplify]]). */
final case class Simplification(tolerance: Double, preserveTopology: Boolean) {
  def simplify(g: AnyRef): Array[Byte] = GeomOps.simplify(g, tolerance, preserveTopology)
}

/** `tile_fragments` of one zoom ([[TileClip.fragments]]). */
final case class TileFragments(zoom: Int, extent: Int, withArea: Boolean, clip: TileClip) {
  def fragments(b: AnyRef, x: Int, y: Int): ArrayData = clip.fragments(b, zoom, x, y, extent, withArea)
}

/** A driver-held set of tile keys at `zoom`, each packed as
  * `x * 2^32 + y` and sorted; `packed` null is every tile.
  */
final case class TileSubset(zoom: Int, packed: Array[Long]) {
  /** Whether any tile key of `g` at the zoom is in the set. */
  def overlaps(g: AnyRef): Boolean = packed == null || {
    val keys = GeomOps.tileKeys(g, zoom)
    (0 until keys.numElements).exists { i =>
      val k = keys.getStruct(i, 2)
      contains(k.getInt(0), k.getInt(1))
    }
  }

  def contains(x: Int, y: Int): Boolean =
    packed == null || java.util.Arrays.binarySearch(packed, x.toLong * 4294967296L + y) >= 0
}
object TileSubset {
  def of(zoom: Int, keys: Set[(Int, Int)]): TileSubset =
    TileSubset(zoom, keys.iterator.map { case (x, y) => x.toLong * 4294967296L + y }.toArray.sorted)

  /** Every tile of `zoom`. */
  def all(zoom: Int): TileSubset = TileSubset(zoom, null)
}

/** Column-facing API (the engine's `functions._`): each stateless function is
  * its [[FunctionTable]] row applied to the columns; the row's argument types
  * give the implicit casts.
  */
object functions {
  import org.apache.spark.sql.functions.lit
  import FunctionTable.{call, callWith}

  def st_point(lon: Column, lat: Column): Column = call("st_point", lon, lat)
  def st_geomFromWKT(wkt: Column): Column = call("st_geomfromwkt", wkt)
  /** Tolerant parse: malformed WKT -> null geometry (row kept) + one tick on
    * the error channel's accumulator.
    */
  def st_geomFromWKT(wkt: Column, errors: vps.geom.ErrorChannel): Column =
    callWith("st_geomfromwkt", WktReader(Some(errors)))(wkt)
  def st_geomFromWKB(wkb: Column): Column = call("st_geomfromwkb", wkb)
  def st_asText(g: Column): Column = call("st_astext", g)
  def st_asWKB(g: Column): Column = call("st_aswkb", g)
  def st_x(g: Column): Column = call("st_x", g)
  def st_y(g: Column): Column = call("st_y", g)
  def st_area(g: Column): Column = call("st_area", g)
  def st_length(g: Column): Column = call("st_length", g)
  def st_numPoints(g: Column): Column = call("st_numpoints", g)
  def st_centroid(g: Column): Column = call("st_centroid", g)
  def st_isEmpty(g: Column): Column = call("st_isempty", g)
  def st_geometryType(g: Column): Column = call("st_geometrytype", g)
  def st_toWebMercator(g: Column): Column = call("st_towebmercator", g)
  def st_toLonLat(g: Column): Column = call("st_tolonlat", g)
  /** Reproject between EPSG:4326, EPSG:3857, UTM (EPSG:326xx/327xx) and
    * Lambert conformal conic grids (EPSG:2154/3034/3978).
    */
  def st_reproject(g: Column, fromCrs: String, toCrs: String): Column =
    call("st_reproject", g, lit(fromCrs), lit(toCrs))
  def st_makeValid(g: Column): Column = call("st_makevalid", g)
  def st_numGeometries(g: Column): Column = call("st_numgeometries", g)
  def st_buffer(g: Column, dist: Column): Column = call("st_buffer", g, dist)
  def st_convexHull(g: Column): Column = call("st_convexhull", g)
  def st_envelope(g: Column): Column = call("st_envelope", g)
  def st_boundary(g: Column): Column = call("st_boundary", g)
  def st_intersection(a: Column, b: Column): Column = call("st_intersection", a, b)
  def st_union(a: Column, b: Column): Column = call("st_union", a, b)
  def st_difference(a: Column, b: Column): Column = call("st_difference", a, b)
  def st_symDifference(a: Column, b: Column): Column = call("st_symdifference", a, b)
  def st_isValid(g: Column): Column = call("st_isvalid", g)
  /** Aggregate dissolve: `groupBy(key).agg(st_union_agg(geom))`. */
  def st_union_agg(g: Column): Column = call("st_union_agg", g)
  def st_contains(a: Column, b: Column): Column = call("st_contains", a, b)
  def st_intersects(a: Column, b: Column): Column = call("st_intersects", a, b)
  /** `st_intersects` whose prepared-geometry cache probes by `key` in O(1)
    * ([[KeyedProbe]]): `key` must uniquely identify geometry `a` within the
    * query.
    */
  def st_intersects_keyed(key: Column, a: Column, b: Column): Column =
    call("st_intersects_keyed", key.cast("long"), a, b)
  def st_within(a: Column, b: Column): Column = call("st_within", a, b)
  /** The id of every row of `probe`'s side that `g` hits ([[IndexProbe]]),
    * an `array<long>` (empty for a null `g`); consume with `explode`.
    */
  def probe_ids(probe: IndexProbe, g: Column): Column = callWith("probe_ids", probe)(g)
  /** The sorted distinct names of the rows of `probe`'s side that `g` hits,
    * an `array<string>` (empty for a null `g`).
    */
  def probe_names(probe: IndexProbe, g: Column): Column = callWith("probe_names", probe)(g)
  def st_distance(a: Column, b: Column): Column = call("st_distance", a, b)
  def tile_x(lon: Column, zoom: Column): Column = call("tile_x", lon, zoom)
  def tile_y(lat: Column, zoom: Column): Column = call("tile_y", lat, zoom)
  def tile_x(lon: Column, zoom: Int): Column = tile_x(lon, lit(zoom))
  def tile_y(lat: Column, zoom: Int): Column = tile_y(lat, lit(zoom))
  /** H3/S2-style cell id of a lon/lat at a level (Z-order packing). */
  def cell_at(lon: Column, lat: Column, level: Int): Column = call("cell_at", lon, lat, lit(level))
  def cell_parent(cell: Column, level: Int): Column = call("cell_parent", cell, lit(level))
  def cell_kring(cell: Column, k: Column): Column = call("cell_kring", cell, k)
  def cell_kring(cell: Column, k: Int): Column = cell_kring(cell, lit(k))
  def cells_of(g: Column, level: Int): Column = call("cells_of", g, lit(level))
  def tile_keys(g: Column, zoom: Column): Column = call("tile_keys", g, zoom)
  def tile_keys(g: Column, zoom: Int): Column = tile_keys(g, lit(zoom))
  def parent_tile_keys(keys: Column): Column = call("parent_tile_keys", keys)
  def st_clipToTile(g: Column, z: Column, x: Column, y: Column): Column =
    call("st_cliptotile", g, z, x, y)
  /** 0-or-1 pre-encoded MVT fragments; consume with `explode` (see
    * [[TileClip.fragments]]).
    */
  def tile_fragments(g: Column, zoom: Int, x: Column, y: Column, extent: Int, withArea: Boolean,
      timeoutMs: Long = 5000, errors: Option[vps.geom.ErrorChannel] = None): Column =
    callWith("tile_fragments", TileFragments(zoom, extent, withArea, TileClip(timeoutMs, errors)))(
      g, x.cast("int"), y.cast("int"))
  def st_clipToTile(g: Column, z: Column, x: Column, y: Column, errors: vps.geom.ErrorChannel): Column =
    callWith("st_cliptotile", TileClip(vps.kernels.Clip.DefaultTimeout.toMillis, Some(errors)))(g, z, x, y)
  def st_simplify(g: Column, tolerance: Column, preserveTopology: Boolean = true): Column =
    call("st_simplify", g, tolerance, lit(preserveTopology))

  // the tile plans' calls, each with its per-call values in its state literal
  private[vps] def tile_keys_at(g: Column, zoom: Int): Column = callWith("tile_keys_at", TileKeysAt(zoom))(g)
  private[vps] def simplified(g: Column, tolerance: Double, preserveTopology: Boolean): Column =
    callWith("simplified", Simplification(tolerance, preserveTopology))(g)
  private[vps] def in_tile_subset(subset: TileSubset, g: Column): Column = callWith("in_tile_subset", subset)(g)
  private[vps] def tile_in_subset(subset: TileSubset, x: Column, y: Column): Column =
    callWith("tile_in_subset", subset)(x, y)

  /** Register every [[FunctionTable]] row as a temporary function, so
    * `spark.sql("SELECT st_point(...)")` works in this session.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    FunctionTable.rows.foreach(f => reg.createOrReplaceTempFunction(f.name, f(_), "scala_udf"))
  }
}

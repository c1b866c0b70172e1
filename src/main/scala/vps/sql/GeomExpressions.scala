package vps.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry

import vps.geom.{CellId, Geo, GeometryUDT, TileMath, Wkb, Wkt}
import vps.kernels.{Clip, Simplify}

/** Native Catalyst expressions for the geometry/tiling operator surface
  * (SURVEY.md §2.8 F20-F27). Geometry values travel as WKB inside the
  * [[vps.geom.GeometryUDT]]; pure-math expressions (tile/cell ids) get real
  * codegen, JTS-heavy ones use CodegenFallback (the JTS call dominates).
  */
object GeomOps {
  // static helpers callable from generated Java (whole-stage codegen)
  def point(lon: Double, lat: Double): Array[Byte] = Wkb.write(Geo.point(lon, lat))
  // plain 2-D point WKB (21 bytes): read the coordinate straight off the
  // buffer — st_x/st_y over a point corpus are codegen'd hot-path calls and
  // the full parse allocates a geometry per call (the allocation stream is
  // what stops thread-scaling); bits are identical to what WKBReader yields
  def stx(wkb: Array[Byte]): Double =
    if (wkb.length == 21 && pointWkbType(wkb)) readPointDouble(wkb, 5)
    else Wkb.read(wkb).getCoordinate.x
  def sty(wkb: Array[Byte]): Double =
    if (wkb.length == 21 && pointWkbType(wkb)) readPointDouble(wkb, 13)
    else Wkb.read(wkb).getCoordinate.y
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
  def area(wkb: Array[Byte]): Double = Wkb.read(wkb).getArea
  def length(wkb: Array[Byte]): Double = Wkb.read(wkb).getLength
  def numPoints(wkb: Array[Byte]): Int = Wkb.read(wkb).getNumPoints
  def isEmpty(wkb: Array[Byte]): Boolean = Wkb.read(wkb).isEmpty
}

case class StPoint(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.vps.VpsImplicitCasts {
  override protected def coerceTo: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = GeometryUDT.Instance
  override def nullSafeEval(lon: Any, lat: Any): Any =
    GeomOps.point(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) => s"vps.sql.GeomOps.point($lon, $lat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** WKT parse; malformed input yields null (row kept) and, when an error
  * channel is attached, increments its accumulator — the reference's
  * RobustFeature/ErrorHandler tolerance surface: no silent drops, a global
  * malformed count with no extra job.
  */
case class StGeomFromWkt(child: Expression, errors: Option[vps.geom.ErrorChannel] = None)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override def nullSafeEval(s: Any): Any =
    try Wkb.write(Wkt.read(s.asInstanceOf[UTF8String].toString))
    catch { case _: Exception => errors.foreach(_.increment()); null }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class StAsText(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(b: Any): Any =
    UTF8String.fromString(Wkt.write(Wkb.read(b.asInstanceOf[Array[Byte]])))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StGeomFromWkb(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override def nullSafeEval(b: Any): Any = b // WKB is the storage format; validate lazily
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StAsWkb(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(b: Any): Any = b
  // identity on the UDT's stored bytes — codegen'd so projections carrying
  // st_asWKB stay inside whole-stage codegen (a CodegenFallback MARKER, even
  // with a real doGenCode, evicts the hosting plan from WSCG)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Base for unary geometry expressions. Subclasses that define codegen
  * extend this DIRECTLY (the CodegenFallback marker trait alone — even with
  * doGenCode overridden — makes CollapseCodegenStages evict the hosting
  * plan from whole-stage codegen); interpreted ones extend
  * [[GeomUnaryFallback]].
  */
abstract class GeomUnary extends UnaryExpression {
  protected def evalGeom(g: Geometry): Any
  override def nullSafeEval(b: Any): Any = evalGeom(Wkb.read(b.asInstanceOf[Array[Byte]]))
}

abstract class GeomUnaryFallback extends GeomUnary with CodegenFallback

case class StX(child: Expression) extends GeomUnary {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"vps.sql.GeomOps.stx($c)")
  override def dataType: DataType = DoubleType
  override protected def evalGeom(g: Geometry): Any = g.getCoordinate.x
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StY(child: Expression) extends GeomUnary {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"vps.sql.GeomOps.sty($c)")
  override def dataType: DataType = DoubleType
  override protected def evalGeom(g: Geometry): Any = g.getCoordinate.y
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StArea(child: Expression) extends GeomUnary {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"vps.sql.GeomOps.area($c)")
  override def dataType: DataType = DoubleType
  override protected def evalGeom(g: Geometry): Any = g.getArea
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StLength(child: Expression) extends GeomUnary {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"vps.sql.GeomOps.length($c)")
  override def dataType: DataType = DoubleType
  override protected def evalGeom(g: Geometry): Any = g.getLength
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StNumPoints(child: Expression) extends GeomUnary {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"vps.sql.GeomOps.numPoints($c)")
  override def dataType: DataType = IntegerType
  override protected def evalGeom(g: Geometry): Any = g.getNumPoints
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StCentroid(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override protected def evalGeom(g: Geometry): Any = Wkb.write(g.getCentroid)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Repair invalid geometries (self-intersecting rings, bowties, duplicate
  * points) via JTS GeometryFixer — the column-level bad-geometry tolerance
  * that complements the ErrorChannel path: fix what is fixable instead of
  * nulling it. Valid input passes through structurally unchanged.
  */
case class StMakeValid(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override protected def evalGeom(g: Geometry): Any =
    Wkb.write(if (g.isValid) g else org.locationtech.jts.geom.util.GeometryFixer.fix(g))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** True when the geometry is valid under the OGC rules (JTS isValid). */
case class StIsValid(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = BooleanType
  override protected def evalGeom(g: Geometry): Any = g.isValid
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Buffer by a distance in the geometry's coordinate units (JTS BufferOp,
  * default quadrant segments). Negative distances shrink polygons.
  */
case class StBuffer(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override def nullSafeEval(g: Any, d: Any): Any =
    Wkb.write(Wkb.read(g.asInstanceOf[Array[Byte]]).buffer(d.asInstanceOf[Double]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}
/** Convex hull (JTS). */
case class StConvexHull(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override protected def evalGeom(g: Geometry): Any = Wkb.write(g.convexHull())
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Envelope as a polygon (JTS getEnvelope: point/degenerate inputs shrink). */
case class StEnvelope(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override protected def evalGeom(g: Geometry): Any = Wkb.write(g.getEnvelope)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Topological boundary (polygon -> rings, line -> endpoints). */
case class StBoundary(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override protected def evalGeom(g: Geometry): Any = Wkb.write(g.getBoundary)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Shared shape for the binary constructive overlay ops (JTS OverlayNG
  * under the hood); results canonicalized with norm() so output bytes do not
  * depend on argument-evaluation artifacts.
  */
abstract class GeomBinaryOp extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = GeometryUDT.Instance
  protected def op(a: Geometry, b: Geometry): Geometry
  override def nullSafeEval(a: Any, b: Any): Any =
    Wkb.write(op(Wkb.read(a.asInstanceOf[Array[Byte]]),
      Wkb.read(b.asInstanceOf[Array[Byte]])).norm())
}
case class StIntersection(left: Expression, right: Expression) extends GeomBinaryOp {
  override protected def op(a: Geometry, b: Geometry): Geometry = a.intersection(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StUnion(left: Expression, right: Expression) extends GeomBinaryOp {
  override protected def op(a: Geometry, b: Geometry): Geometry = a.union(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDifference(left: Expression, right: Expression) extends GeomBinaryOp {
  override protected def op(a: Geometry, b: Geometry): Geometry = a.difference(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StSymDifference(left: Expression, right: Expression) extends GeomBinaryOp {
  override protected def op(a: Geometry, b: Geometry): Geometry = a.symDifference(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** Number of components in a (multi-)geometry (JTS getNumGeometries). */
case class StNumGeometries(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = IntegerType
  override protected def evalGeom(g: Geometry): Any = g.getNumGeometries
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsEmpty(child: Expression) extends GeomUnary {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"vps.sql.GeomOps.isEmpty($c)")
  override def dataType: DataType = BooleanType
  override protected def evalGeom(g: Geometry): Any = g.isEmpty
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StGeometryType(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = StringType
  override protected def evalGeom(g: Geometry): Any = UTF8String.fromString(g.getGeometryType)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Closed-form EPSG:4326 -> EPSG:3857 (the reference's st_reprojectGeom defaults). */
case class StToWebMercator(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override protected def evalGeom(g: Geometry): Any = {
    val copy = g.copy()
    copy.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
        val x = TileMath.lonToMercX(c.x); val y = TileMath.latToMercY(c.y)
        c.x = x; c.y = y
      }
    })
    copy.geometryChanged()
    Wkb.write(copy)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StToLonLat(child: Expression) extends GeomUnaryFallback {
  override def dataType: DataType = GeometryUDT.Instance
  override protected def evalGeom(g: Geometry): Any = {
    val copy = g.copy()
    copy.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
        val x = TileMath.mercXToLon(c.x); val y = TileMath.mercYToLat(c.y)
        c.x = x; c.y = y
      }
    })
    copy.geometryChanged()
    Wkb.write(copy)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** General closed-form reprojection between EPSG:4326 / EPSG:3857 / UTM
  * (EPSG:326xx/327xx) / Lambert conformal conic national grids
  * (EPSG:2154/3034/3978) — the reference's `st_reprojectGeom` surface
  * (`vectortile/package.scala:28-39`) without a native proj dependency.
  * Foldable CRS codes parse once at first eval; column CRS args parse per row.
  */
case class StReproject(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  import vps.geom.Proj
  override def dataType: DataType = GeometryUDT.Instance
  /** Parsed once when both CRS args are foldable; a bound (per-row) CRS column
    * makes the empty-row eval throw — fall through to the per-row parse in
    * nullSafeEval instead of failing lazy-val init.
    */
  @transient private lazy val crsPair: Option[(Proj.Crs, Proj.Crs)] =
    try {
      for {
        f <- Option(second.eval(InternalRow.empty))
        t <- Option(third.eval(InternalRow.empty))
      } yield (Proj.parse(f.toString), Proj.parse(t.toString))
    } catch { case scala.util.control.NonFatal(_) => None }
  override def nullSafeEval(b: Any, fromC: Any, toC: Any): Any = {
    val (from, to) = crsPair.getOrElse(
      (Proj.parse(fromC.asInstanceOf[UTF8String].toString),
        Proj.parse(toC.asInstanceOf[UTF8String].toString)))
    if (from == to) return b
    val g = Wkb.read(b.asInstanceOf[Array[Byte]]).copy()
    g.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
        val (x, y) = Proj.transform(c.x, c.y, from, to)
        c.x = x; c.y = y
      }
    })
    g.geometryChanged()
    Wkb.write(g)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
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
  private final class Entry(val wkb: Array[Byte], val prepared: org.locationtech.jts.geom.prep.PreparedGeometry)
  private val cache = ThreadLocal.withInitial[java.util.LinkedHashMap[Integer, Entry]](() =>
    new java.util.LinkedHashMap[Integer, Entry](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Integer, Entry]): Boolean = size() > 48
    })
  def prepared(wkb: Array[Byte]): org.locationtech.jts.geom.prep.PreparedGeometry = {
    val key = Integer.valueOf(java.util.Arrays.hashCode(wkb))
    val m = cache.get()
    val hit = m.get(key)
    if (hit != null && java.util.Arrays.equals(hit.wkb, wkb)) hit.prepared
    else {
      val pg = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(Wkb.read(wkb))
      m.put(key, new Entry(wkb, pg))
      pg
    }
  }
}

abstract class GeomBinaryPredicate extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  protected def test(a: org.locationtech.jts.geom.prep.PreparedGeometry, b: Geometry): Boolean
  // instance state = per-task after deserialization, so single-threaded;
  // point probes mutate this instead of allocating a parse per row
  @transient private lazy val probePoint = vps.geom.Geo.point(0, 0)
  override def nullSafeEval(a: Any, b: Any): Any =
    test(GeomCache.prepared(a.asInstanceOf[Array[Byte]]),
      Wkb.readProbe(b.asInstanceOf[Array[Byte]], probePoint))
}

case class StContains(left: Expression, right: Expression) extends GeomBinaryPredicate {
  override protected def test(a: org.locationtech.jts.geom.prep.PreparedGeometry, b: Geometry): Boolean = a.contains(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StIntersects(left: Expression, right: Expression) extends GeomBinaryPredicate {
  override protected def test(a: org.locationtech.jts.geom.prep.PreparedGeometry, b: Geometry): Boolean = a.intersects(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** `st_intersects` with a caller-supplied UNIQUE key for the prepared (left)
  * geometry: the prepared-geometry cache is keyed by the long id instead of
  * by WKB content, making the per-pair cache probe O(1) instead of O(polygon
  * bytes) ([[GeomCache]] hashes + equality-checks the full WKB each
  * evaluation — two passes over a 10k-vertex polygon per candidate pair).
  *
  * Safety: the cache is INSTANCE state, not a JVM-wide map — every Spark task
  * deserializes its own expression tree, so entries can never leak between
  * tasks, queries, or sessions even when two queries reuse the same id for
  * different geometries. The caller's contract is that the key identifies one
  * geometry WITHIN the query (e.g. the join's `poly_id`); as a guard against
  * violations (multipart regions stored as several rows under one id), every
  * hit is verified against the row's full WKB bytes (`Arrays.equals` — still
  * far cheaper than re-prepare) and silently re-prepared on mismatch —
  * wrong-id rows then cost cache churn, never wrong join results.
  */
case class StIntersectsKeyed(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  import StIntersectsKeyed.Entry
  @transient private lazy val cache =
    new java.util.LinkedHashMap[java.lang.Long, Entry](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[java.lang.Long, Entry]): Boolean =
        size() > 256
    }
  override def nullSafeEval(k: Any, g: Any, p: Any): Any = {
    val key = java.lang.Long.valueOf(k.asInstanceOf[Long])
    val wkb = g.asInstanceOf[Array[Byte]]
    var e = cache.get(key)
    if (e == null || !e.matches(wkb)) {
      e = new Entry(wkb,
        org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(Wkb.read(wkb)))
      cache.put(key, e)
    }
    e.prepared.intersects(Wkb.readProbe(p.asInstanceOf[Array[Byte]], probePoint))
  }
  // point probes reuse one instance-scoped mutable Point (per-task state,
  // single-threaded; JTS predicates don't retain the probe) — the refine
  // runs once per candidate pair and the parse allocations dominated it
  @transient private lazy val probePoint = vps.geom.Geo.point(0, 0)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}
object StIntersectsKeyed {
  /** Cached prepared geometry + the exact WKB it was prepared from. Hits are
    * verified with full `Arrays.equals` — O(len), but still far cheaper than
    * the WKB parse + prepare it saves, and immune to the head/tail-collision
    * trap (gridded multipart regions under one id share length, a
    * near-constant 8-byte header and a closing-vertex y — a weaker
    * discriminator silently reused stale geometry for those).
    */
  private[sql] final class Entry(
      val wkb: Array[Byte], val prepared: org.locationtech.jts.geom.prep.PreparedGeometry) {
    def matches(other: Array[Byte]): Boolean = java.util.Arrays.equals(other, wkb)
  }
}
/** st_within(a, b) = "a within b" (PostGIS argument order). The container is
  * the RIGHT operand, so that side is prepared/cached.
  */
case class StWithin(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  @transient private lazy val probePoint = vps.geom.Geo.point(0, 0)
  override def nullSafeEval(a: Any, b: Any): Any =
    GeomCache.prepared(b.asInstanceOf[Array[Byte]])
      .contains(Wkb.readProbe(a.asInstanceOf[Array[Byte]], probePoint))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDistance(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Wkb.read(a.asInstanceOf[Array[Byte]]).distance(Wkb.read(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

// ---------- tile / cell math (codegen'd: pure arithmetic hot path) ----------

case class TileXOf(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.vps.VpsImplicitCasts {
  override protected def coerceTo: Seq[DataType] = Seq(DoubleType, IntegerType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(lon: Any, z: Any): Any =
    TileMath.tileX(lon.asInstanceOf[Double], z.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, z) => s"vps.geom.TileMath.tileX($lon, $z)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class TileYOf(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.vps.VpsImplicitCasts {
  override protected def coerceTo: Seq[DataType] = Seq(DoubleType, IntegerType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(lat: Any, z: Any): Any =
    TileMath.tileY(lat.asInstanceOf[Double], z.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, z) => s"vps.geom.TileMath.tileY($lat, $z)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** H3/S2-style cell id of a lon/lat at a level — codegen'd Z-order packing. */
case class CellAt(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with org.apache.spark.sql.vps.VpsImplicitCasts {
  override protected def coerceTo: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(lon: Any, lat: Any, lvl: Any): Any =
    CellId.fromLonLat(lon.asInstanceOf[Double], lat.asInstanceOf[Double], lvl.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, lvl) => s"vps.geom.CellId.fromLonLat($lon, $lat, $lvl)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

case class CellParent(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.vps.VpsImplicitCasts {
  override protected def coerceTo: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(cell: Any, lvl: Any): Any =
    CellId.parent(cell.asInstanceOf[Long], lvl.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"vps.geom.CellId.parent($c, $l)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

object CellKRing {
  /** Public + static: called from generated code. */
  def ring(cell: Long, k: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    new GenericArrayData(CellId.kRing(cell, k).toArray)
}
case class CellKRing(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.vps.VpsImplicitCasts {
  override protected def coerceTo: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(cell: Any, k: Any): Any = CellKRing.ring(cell.asInstanceOf[Long], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, k) => s"vps.sql.CellKRing.ring($c, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

object TileKeysOf {
  val elementType: StructType =
    StructType(Seq(StructField("x", IntegerType, nullable = false),
      StructField("y", IntegerType, nullable = false)))

  /** Shared eval: every map-side keying pipeline (tiles pack, rasterize,
    * pyramid) runs this per row, so it fast-paths plain 2-D point WKB
    * (21 bytes -> the single (tileX, tileY) key, no JTS parse — identical
    * by construction: keysForGeometry of a point's degenerate envelope IS
    * that one key) and builds the array data directly. Public + static:
    * called from generated code.
    */
  def keys(wkb: Array[Byte], zoom: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
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
}

/** All ZXY keys whose tile intersects the geometry envelope (reference
  * `keyTo`). Codegen'd (static call, NOT CodegenFallback): a fallback here
  * evicts every keying projection/generator from whole-stage codegen, and
  * this sits on the tiles/rasterize map side at one call per row.
  */
case class TileKeysOf(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.vps.VpsImplicitCasts {
  override protected def coerceTo: Seq[DataType] = Seq(GeometryUDT.Instance, IntegerType)
  override def dataType: DataType = ArrayType(TileKeysOf.elementType, containsNull = false)
  override def nullSafeEval(b: Any, z: Any): Any =
    TileKeysOf.keys(b.asInstanceOf[Array[Byte]], z.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, z) => s"vps.sql.TileKeysOf.keys($b, $z)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Parent-tile re-key helper (reference `reduceKeys`): (x,y) -> (x/2, y/2). */
case class ParentTileKeys(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(TileKeysOf.elementType, containsNull = false)
  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    (0 until a.numElements).foreach { i =>
      val r = a.getStruct(i, 2)
      seen += ((r.getInt(0) / 2, r.getInt(1) / 2))
    }
    new GenericArrayData(seen.map { case (x, y) => InternalRow(x, y) }.toArray)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Dimension-preserving clip of a lon/lat geometry to tile (z, x, y). An
  * attached error channel counts intersection timeouts/failures (where the
  * original geometry passes through, reference `Clipping.scala` semantics).
  */
case class StClipToTile(first: Expression, second: Expression, third: Expression, fourth: Expression,
    errors: Option[vps.geom.ErrorChannel] = None)
    extends QuaternaryExpression with CodegenFallback with org.apache.spark.sql.vps.VpsImplicitCasts {
  override protected def coerceTo: Seq[DataType] =
    Seq(GeometryUDT.Instance, IntegerType, IntegerType, IntegerType)
  override def dataType: DataType = GeometryUDT.Instance
  override def nullSafeEval(b: Any, z: Any, x: Any, y: Any): Any = {
    val env = TileMath.tileEnvelopeLatLng(z.asInstanceOf[Int], x.asInstanceOf[Int], y.asInstanceOf[Int])
    Wkb.write(Clip(Wkb.read(b.asInstanceOf[Array[Byte]]), env,
      onFailure = () => errors.foreach(_.increment())))
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

case class StSimplify(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback with org.apache.spark.sql.vps.VpsImplicitCasts {
  override protected def coerceTo: Seq[DataType] = Seq(GeometryUDT.Instance, DoubleType, BooleanType)
  override def dataType: DataType = GeometryUDT.Instance
  override def nullSafeEval(b: Any, tol: Any, preserve: Any): Any = {
    val g = Wkb.read(b.asInstanceOf[Array[Byte]])
    val s =
      if (preserve.asInstanceOf[Boolean]) Simplify.topologyPreserving(g, tol.asInstanceOf[Double])
      else Simplify.douglasPeucker(g, tol.asInstanceOf[Double])
    Wkb.write(s)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

object TileFragments {
  val elementType: StructType = StructType(Seq(
    StructField("geomType", IntegerType, nullable = false),
    StructField("area", DoubleType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))
}

/** Fused clip → tile-local transform → MVT command-int encode, emitting 0 or 1
  * pre-encoded fragments (empty array = clip produced nothing). Children:
  * (geom, zoom, x, y, extent, withArea).
  *
  * Returning an ARRAY consumed by `explode` is deliberate: a scalar
  * fragment + `WHERE isNotNull(...)` would let predicate pushdown substitute
  * the alias and evaluate the (expensive) clip twice per row; a generator
  * evaluates once. Encoding before the tile exchange means the shuffle carries
  * command-int payloads (a point is ~4-8 bytes vs 21-byte WKB) and the
  * post-shuffle phases never touch geometry again.
  */
case class TileFragments(children: Seq[Expression],
    timeoutMs: Long = 5000, errors: Option[vps.geom.ErrorChannel] = None)
    extends Expression with CodegenFallback {
  require(children.length == 6, "tile_fragments(geom, zoom, x, y, extent, withArea)")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(TileFragments.elementType, containsNull = false)
  private val Empty = new GenericArrayData(Array.empty[Any])
  @transient private lazy val clipTimeout = scala.concurrent.duration.Duration(timeoutMs, "ms")
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) return Empty
    val Seq(wkb, z, x, y, extent, withArea) = vs
    val zi = z.asInstanceOf[Int]; val xi = x.asInstanceOf[Int]; val yi = y.asInstanceOf[Int]
    val env = TileMath.tileEnvelopeLatLng(zi, xi, yi)
    val clipped = Clip(Wkb.read(wkb.asInstanceOf[Array[Byte]]), env, clipTimeout,
      onFailure = () => errors.foreach(_.increment()))
    if (clipped.isEmpty) Empty
    else {
      val local = vps.mvt.TileBuilder.lonLatToTile(zi, xi, yi, extent.asInstanceOf[Int])
        .transform(clipped)
      val (geomType, payload) = vps.mvt.Mvt.encodeGeometryPacked(local)
      val area = if (withArea.asInstanceOf[Boolean]) local.getArea else 0.0
      new GenericArrayData(Array[Any](InternalRow(geomType, area, payload)))
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** Column-facing API (the engine's `functions._`). */
object functions {
  import org.apache.spark.sql.functions.lit

  import org.apache.spark.sql.vps.ColumnBridge
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def ex(col: Column): Expression = ColumnBridge.expression(col)

  def st_point(lon: Column, lat: Column): Column =
    c(StPoint(ex(lon.cast("double")), ex(lat.cast("double"))))
  def st_geomFromWKT(wkt: Column): Column = c(StGeomFromWkt(ex(wkt)))
  /** Tolerant parse: malformed WKT -> null geometry (row kept) + one tick on
    * the error channel's accumulator.
    */
  def st_geomFromWKT(wkt: Column, errors: vps.geom.ErrorChannel): Column =
    c(StGeomFromWkt(ex(wkt), Some(errors)))
  def st_geomFromWKB(wkb: Column): Column = c(StGeomFromWkb(ex(wkb)))
  def st_asText(g: Column): Column = c(StAsText(ex(g)))
  def st_asWKB(g: Column): Column = c(StAsWkb(ex(g)))
  def st_x(g: Column): Column = c(StX(ex(g)))
  def st_y(g: Column): Column = c(StY(ex(g)))
  def st_area(g: Column): Column = c(StArea(ex(g)))
  def st_length(g: Column): Column = c(StLength(ex(g)))
  def st_numPoints(g: Column): Column = c(StNumPoints(ex(g)))
  def st_centroid(g: Column): Column = c(StCentroid(ex(g)))
  def st_isEmpty(g: Column): Column = c(StIsEmpty(ex(g)))
  def st_geometryType(g: Column): Column = c(StGeometryType(ex(g)))
  def st_toWebMercator(g: Column): Column = c(StToWebMercator(ex(g)))
  def st_toLonLat(g: Column): Column = c(StToLonLat(ex(g)))
  /** Reproject between EPSG:4326, EPSG:3857, UTM (EPSG:326xx/327xx) and
    * Lambert conformal conic grids (EPSG:2154/3034/3978).
    */
  def st_reproject(g: Column, fromCrs: String, toCrs: String): Column =
    c(StReproject(ex(g), ex(lit(fromCrs)), ex(lit(toCrs))))
  def st_makeValid(g: Column): Column = c(StMakeValid(ex(g)))
  def st_numGeometries(g: Column): Column = c(StNumGeometries(ex(g)))
  def st_buffer(g: Column, dist: Column): Column = c(StBuffer(ex(g), ex(dist.cast("double"))))
  def st_convexHull(g: Column): Column = c(StConvexHull(ex(g)))
  def st_envelope(g: Column): Column = c(StEnvelope(ex(g)))
  def st_boundary(g: Column): Column = c(StBoundary(ex(g)))
  def st_intersection(a: Column, b: Column): Column = c(StIntersection(ex(a), ex(b)))
  def st_union(a: Column, b: Column): Column = c(StUnion(ex(a), ex(b)))
  def st_difference(a: Column, b: Column): Column = c(StDifference(ex(a), ex(b)))
  def st_symDifference(a: Column, b: Column): Column = c(StSymDifference(ex(a), ex(b)))
  def st_isValid(g: Column): Column = c(StIsValid(ex(g)))
  /** Aggregate dissolve: `groupBy(key).agg(st_union_agg(geom))`. */
  def st_union_agg(g: Column): Column = c(StUnionAgg(ex(g)).toAggregateExpression())
  def st_contains(a: Column, b: Column): Column = c(StContains(ex(a), ex(b)))
  def st_intersects(a: Column, b: Column): Column = c(StIntersects(ex(a), ex(b)))
  /** [[StIntersectsKeyed]]: `key` must uniquely identify geometry `a` within
    * the query; the prepared-geometry cache probes by the key in O(1).
    */
  def st_intersects_keyed(key: Column, a: Column, b: Column): Column =
    c(StIntersectsKeyed(ex(key.cast("long")), ex(a), ex(b)))
  def st_within(a: Column, b: Column): Column = c(StWithin(ex(a), ex(b)))
  def st_distance(a: Column, b: Column): Column = c(StDistance(ex(a), ex(b)))
  def tile_x(lon: Column, zoom: Column): Column = c(TileXOf(ex(lon.cast("double")), ex(zoom.cast("int"))))
  def tile_y(lat: Column, zoom: Column): Column = c(TileYOf(ex(lat.cast("double")), ex(zoom.cast("int"))))
  def tile_x(lon: Column, zoom: Int): Column = tile_x(lon, lit(zoom))
  def tile_y(lat: Column, zoom: Int): Column = tile_y(lat, lit(zoom))
  def cell_at(lon: Column, lat: Column, level: Int): Column =
    c(CellAt(ex(lon.cast("double")), ex(lat.cast("double")), ex(lit(level))))
  def cell_parent(cell: Column, level: Int): Column = c(CellParent(ex(cell), ex(lit(level))))
  def cell_kring(cell: Column, k: Column): Column = c(CellKRing(ex(cell), ex(k)))
  def cell_kring(cell: Column, k: Int): Column = cell_kring(cell, lit(k))
  def cells_of(g: Column, level: Int): Column = c(CellsOf(ex(g), ex(lit(level))))
  def tile_keys(g: Column, zoom: Column): Column = c(TileKeysOf(ex(g), ex(zoom)))
  def tile_keys(g: Column, zoom: Int): Column = tile_keys(g, lit(zoom))
  def parent_tile_keys(keys: Column): Column = c(ParentTileKeys(ex(keys)))
  def st_clipToTile(g: Column, z: Column, x: Column, y: Column): Column =
    c(StClipToTile(ex(g), ex(z), ex(x), ex(y)))
  /** 0-or-1 pre-encoded MVT fragments; consume with `explode` (see
    * [[TileFragments]]).
    */
  def tile_fragments(g: Column, zoom: Int, x: Column, y: Column, extent: Int, withArea: Boolean,
      timeoutMs: Long = 5000, errors: Option[vps.geom.ErrorChannel] = None): Column =
    c(TileFragments(Seq(ex(g), ex(lit(zoom)), ex(x.cast("int")), ex(y.cast("int")),
      ex(lit(extent)), ex(lit(withArea))), timeoutMs, errors))
  def st_clipToTile(g: Column, z: Column, x: Column, y: Column, errors: vps.geom.ErrorChannel): Column =
    c(StClipToTile(ex(g), ex(z), ex(x), ex(y), Some(errors)))
  def st_simplify(g: Column, tolerance: Column, preserveTopology: Boolean = true): Column =
    c(StSimplify(ex(g), ex(tolerance), ex(lit(preserveTopology))))

  /** Register SQL names so `spark.sql("SELECT st_point(...)")` works. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def r(name: String, f: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, f, "scala_udf")
    r("st_point", e => StPoint(e(0), e(1)))
    r("st_geomfromwkt", e => StGeomFromWkt(e(0)))
    r("st_astext", e => StAsText(e(0)))
    r("st_x", e => StX(e(0)))
    r("st_y", e => StY(e(0)))
    r("st_area", e => StArea(e(0)))
    r("st_makevalid", e => StMakeValid(e(0)))
    r("st_buffer", e => StBuffer(e(0), e(1)))
    r("st_convexhull", e => StConvexHull(e(0)))
    r("st_numgeometries", e => StNumGeometries(e(0)))
    r("st_isvalid", e => StIsValid(e(0)))
    r("st_union_agg", e => StUnionAgg(e(0)).toAggregateExpression())
    r("st_envelope", e => StEnvelope(e(0)))
    r("st_boundary", e => StBoundary(e(0)))
    r("st_intersection", e => StIntersection(e(0), e(1)))
    r("st_union", e => StUnion(e(0), e(1)))
    r("st_difference", e => StDifference(e(0), e(1)))
    r("st_symdifference", e => StSymDifference(e(0), e(1)))
    r("st_contains", e => StContains(e(0), e(1)))
    r("st_intersects", e => StIntersects(e(0), e(1)))
    r("st_distance", e => StDistance(e(0), e(1)))
    r("tile_x", e => TileXOf(e(0), e(1)))
    r("tile_y", e => TileYOf(e(0), e(1)))
    r("cell_at", e => CellAt(e(0), e(1), e(2)))
    r("cell_kring", e => CellKRing(e(0), e(1)))
    r("tile_keys", e => TileKeysOf(e(0), e(1)))
    r("st_reproject", e => StReproject(e(0), e(1), e(2)))
  }
}

/** All cell ids at `level` whose tile intersects the geometry envelope —
  * the polygon-side key generator for cell-partitioned spatial joins.
  */
case class CellsOf(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(b: Any, lvl: Any): Any = {
    val level = lvl.asInstanceOf[Int]
    val keys = TileMath.keysForGeometry(Wkb.read(b.asInstanceOf[Array[Byte]]), level)
    new GenericArrayData(keys.map { case (x, y) => CellId.pack(level, x.toLong, y.toLong) }.toArray)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

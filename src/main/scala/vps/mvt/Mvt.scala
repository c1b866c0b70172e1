package vps.mvt

import org.locationtech.jts.geom._
import scala.collection.mutable
import vps.geom.Geo

/** Mapbox Vector Tile 2.1 model + codec, from scratch against the public spec
  * (github.com/mapbox/vector-tile-spec). Replaces the external
  * geotrellis-vectortile codec the reference uses
  * (`/root/reference/src/main/scala/vectorpipe/vectortile/export/package.scala:35,58`).
  *
  * Geometries are in tile-local integer coordinates, y-down, range [0, extent].
  */
sealed trait MvtValue
object MvtValue {
  final case class Str(v: String) extends MvtValue
  final case class F32(v: Float) extends MvtValue
  final case class F64(v: Double) extends MvtValue
  final case class I64(v: Long) extends MvtValue     // int_value
  final case class U64(v: Long) extends MvtValue     // uint_value
  final case class S64(v: Long) extends MvtValue     // sint_value (zigzag)
  final case class Bool(v: Boolean) extends MvtValue
}

final case class MvtFeature(
    id: Option[Long],
    geometry: Geometry, // tile-local integer coords
    attrs: Seq[(String, MvtValue)])

final case class MvtLayer(
    name: String,
    extent: Int,
    version: Int,
    features: Seq[MvtFeature])

final case class MvtTile(layers: Seq[MvtLayer]) {
  def layer(name: String): Option[MvtLayer] = layers.find(_.name == name)
}

object Mvt {
  // Tile / Layer / Feature / Value field numbers (public MVT 2.1 proto)
  private val TileLayers = 3
  private val LayerVersion = 15
  private val LayerName = 1
  private val LayerFeatures = 2
  private val LayerKeys = 3
  private val LayerValues = 4
  private val LayerExtent = 5
  private val FeatId = 1
  private val FeatTags = 2
  private val FeatType = 3
  private val FeatGeometry = 4
  private val ValString = 1
  private val ValFloat = 2
  private val ValDouble = 3
  private val ValInt = 4
  private val ValUint = 5
  private val ValSint = 6
  private val ValBool = 7

  final val GeomPoint = 1
  final val GeomLine = 2
  final val GeomPolygon = 3

  private val CmdMoveTo = 1
  private val CmdLineTo = 2
  private val CmdClosePath = 7

  // ---------------- encode ----------------

  def encode(tile: MvtTile): Array[Byte] = {
    val w = new PbWriter(4096)
    tile.layers.foreach(l => w.writeBytesField(TileLayers, encodeLayer(l)))
    w.toBytes
  }

  private def encodeLayer(layer: MvtLayer): Array[Byte] = {
    val keys = new mutable.LinkedHashMap[String, Int]
    val values = new mutable.LinkedHashMap[MvtValue, Int]
    def keyIdx(k: String): Int = keys.getOrElseUpdate(k, keys.size)
    def valIdx(v: MvtValue): Int = values.getOrElseUpdate(v, values.size)

    val featBytes = layer.features.flatMap { f =>
      encodeFeature(f, keyIdx, valIdx) // may be None for degenerate geometry
    }

    val w = new PbWriter(4096)
    w.writeVarintField(LayerVersion, layer.version.toLong)
    w.writeStringField(LayerName, layer.name)
    featBytes.foreach(b => w.writeBytesField(LayerFeatures, b))
    keys.keysIterator.foreach(k => w.writeStringField(LayerKeys, k))
    values.keysIterator.foreach(v => w.writeBytesField(LayerValues, encodeValue(v)))
    w.writeVarintField(LayerExtent, layer.extent.toLong)
    w.toBytes
  }

  private def encodeValue(v: MvtValue): Array[Byte] = {
    val w = new PbWriter(16)
    v match {
      case MvtValue.Str(s)  => w.writeStringField(ValString, s)
      case MvtValue.F32(f)  => w.writeFloatField(ValFloat, f)
      case MvtValue.F64(d)  => w.writeDoubleField(ValDouble, d)
      case MvtValue.I64(l)  => w.writeVarintField(ValInt, l)
      case MvtValue.U64(l)  => w.writeVarintField(ValUint, l)
      case MvtValue.S64(l)  => w.writeVarintField(ValSint, Wire.zigzag(l))
      case MvtValue.Bool(b) => w.writeVarintField(ValBool, if (b) 1L else 0L)
    }
    w.toBytes
  }

  private def encodeFeature(
      f: MvtFeature, keyIdx: String => Int, valIdx: MvtValue => Int): Option[Array[Byte]] = {
    val (geomType, cmds) = encodeGeometry(f.geometry)
    if (cmds.isEmpty) return None
    val w = new PbWriter(64)
    f.id.foreach(i => w.writeVarintField(FeatId, i))
    if (f.attrs.nonEmpty) {
      val tags = f.attrs.flatMap { case (k, v) => Seq(keyIdx(k).toLong, valIdx(v).toLong) }
      w.writePackedVarints(FeatTags, tags)
    }
    w.writeVarintField(FeatType, geomType.toLong)
    w.writePackedVarints(FeatGeometry, cmds)
    Some(w.toBytes)
  }

  // ---------------- pre-encoded (raw) feature path ----------------
  //
  // The tiling pipeline encodes geometry command-ints MAP-SIDE (phase 1, while
  // the feature is already in tile-local coords) so the tile-merge shuffle
  // carries the packed varint payload — smaller than WKB for points — and the
  // per-tile merge never re-reads geometry. Byte-compatible with the
  // MvtFeature path (spec-gated).

  /** Geometry pre-encoded to the FeatGeometry field body. Empty payload =
    * degenerate geometry (counted but not emitted, like encodeFeature's None).
    * `area` is only populated when the layer orders polygons by area.
    */
  final case class RawFeature(id: Long, geomType: Int, geomPayload: Array[Byte], area: Double = 0.0)

  /** (geomType, packed-varint payload bytes) of a tile-local geometry. */
  def encodeGeometryPacked(g: Geometry): (Int, Array[Byte]) = {
    val (t, cmds) = encodeGeometry(g)
    if (cmds.isEmpty) (t, Array.emptyByteArray)
    else {
      val w = new PbWriter(cmds.size + 8)
      cmds.foreach(w.writeVarint)
      (t, w.toBytes)
    }
  }

  private def encodeFeatureRaw(
      f: RawFeature, keyIdx: String => Int, valIdx: MvtValue => Int): Option[Array[Byte]] = {
    if (f.geomPayload.isEmpty) return None
    val w = new PbWriter(64)
    w.writeVarintField(FeatId, f.id)
    w.writePackedVarints(FeatTags,
      Seq(keyIdx("id").toLong, valIdx(MvtValue.I64(f.id)).toLong))
    w.writeVarintField(FeatType, f.geomType.toLong)
    w.writeBytesField(FeatGeometry, f.geomPayload)
    Some(w.toBytes)
  }

  /** Layer bytes from pre-encoded features (each carrying the single "id"
    * attribute) — byte-identical to `encodeLayer` over
    * `MvtFeature(Some(id), geom, Seq("id" -> I64(id)))` in the same order.
    */
  def encodeLayerRawBytes(name: String, extent: Int, feats: Seq[RawFeature]): Array[Byte] = {
    val keys = new mutable.LinkedHashMap[String, Int]
    val values = new mutable.LinkedHashMap[MvtValue, Int]
    def keyIdx(k: String): Int = keys.getOrElseUpdate(k, keys.size)
    def valIdx(v: MvtValue): Int = values.getOrElseUpdate(v, values.size)
    val featBytes = feats.flatMap(f => encodeFeatureRaw(f, keyIdx, valIdx))
    val w = new PbWriter(4096)
    w.writeVarintField(LayerVersion, 2L)
    w.writeStringField(LayerName, name)
    featBytes.foreach(b => w.writeBytesField(LayerFeatures, b))
    keys.keysIterator.foreach(k => w.writeStringField(LayerKeys, k))
    values.keysIterator.foreach(v => w.writeBytesField(LayerValues, encodeValue(v)))
    w.writeVarintField(LayerExtent, extent.toLong)
    w.toBytes
  }

  /** Tile bytes from already-encoded layer bodies. */
  def encodeTileFromLayerBytes(layerBytes: Seq[Array[Byte]]): Array[Byte] = {
    val w = new PbWriter(4096)
    layerBytes.foreach(b => w.writeBytesField(TileLayers, b))
    w.toBytes
  }

  private def cmd(id: Int, count: Int): Long = ((count << 3) | id).toLong

  /** Command-integer stream for a geometry in tile coords. The cursor is shared
    * across all parts/rings of one feature (per the spec).
    */
  def encodeGeometry(g: Geometry): (Int, Seq[Long]) = {
    val out = mutable.ArrayBuffer.empty[Long]
    var cx = 0L
    var cy = 0L

    def push(x: Long, y: Long): Unit = {
      out += Wire.zigzag(x - cx)
      out += Wire.zigzag(y - cy)
      cx = x; cy = y
    }
    def xi(c: Coordinate): Long = math.round(c.x)
    def yi(c: Coordinate): Long = math.round(c.y)

    def encodePoints(coords: Array[Coordinate]): Unit = {
      if (coords.nonEmpty) {
        out += cmd(CmdMoveTo, coords.length)
        coords.foreach(c => push(xi(c), yi(c)))
      }
    }
    def encodeLine(coords: Array[Coordinate]): Unit = {
      // drop consecutive duplicates post-quantization
      val pts = dedupe(coords)
      if (pts.length >= 2) {
        out += cmd(CmdMoveTo, 1)
        push(xi(pts(0)), yi(pts(0)))
        out += cmd(CmdLineTo, pts.length - 1)
        pts.iterator.drop(1).foreach(c => push(xi(c), yi(c)))
      }
    }
    def encodeRing(ring: Array[Coordinate], exterior: Boolean): Unit = {
      // JTS rings repeat the first point; MVT omits it (ClosePath implies it)
      val closed = dedupe(ring)
      val pts = if (closed.length >= 2 && sameXY(closed.head, closed.last)) closed.dropRight(1) else closed
      if (pts.length >= 3) {
        val oriented = if (shoelace(pts) > 0 == exterior) pts else pts.reverse
        out += cmd(CmdMoveTo, 1)
        push(xi(oriented(0)), yi(oriented(0)))
        out += cmd(CmdLineTo, oriented.length - 1)
        oriented.iterator.drop(1).foreach(c => push(xi(c), yi(c)))
        out += cmd(CmdClosePath, 1)
      }
    }
    def encodePolygon(p: Polygon): Unit = {
      encodeRing(p.getExteriorRing.getCoordinates, exterior = true)
      (0 until p.getNumInteriorRing).foreach(i => encodeRing(p.getInteriorRingN(i).getCoordinates, exterior = false))
    }

    g match {
      case p: Point            => encodePoints(p.getCoordinates); (GeomPoint, out.toSeq)
      case mp: MultiPoint      => encodePoints(mp.getCoordinates); (GeomPoint, out.toSeq)
      case l: LineString       => encodeLine(l.getCoordinates); (GeomLine, out.toSeq)
      case ml: MultiLineString =>
        (0 until ml.getNumGeometries).foreach(i => encodeLine(ml.getGeometryN(i).getCoordinates))
        (GeomLine, out.toSeq)
      case p: Polygon          => encodePolygon(p); (GeomPolygon, out.toSeq)
      case mp: MultiPolygon    =>
        (0 until mp.getNumGeometries).foreach(i => encodePolygon(mp.getGeometryN(i).asInstanceOf[Polygon]))
        (GeomPolygon, out.toSeq)
      case gc: GeometryCollection =>
        // spec forbids heterogenous features; callers split by family first
        throw new IllegalArgumentException(s"GeometryCollection not encodable: $gc")
      case other => throw new IllegalArgumentException(s"unsupported geometry ${other.getGeometryType}")
    }
  }

  /** Twice the signed area (shoelace); > 0 = exterior winding in y-down screen space. */
  private def shoelace(pts: Array[Coordinate]): Double = {
    var s = 0.0
    var i = 0
    val n = pts.length
    while (i < n) {
      val a = pts(i); val b = pts((i + 1) % n)
      s += a.x * b.y - b.x * a.y
      i += 1
    }
    s
  }

  private def sameXY(a: Coordinate, b: Coordinate): Boolean =
    math.round(a.x) == math.round(b.x) && math.round(a.y) == math.round(b.y)

  private def dedupe(coords: Array[Coordinate]): Array[Coordinate] = {
    val out = mutable.ArrayBuffer.empty[Coordinate]
    coords.foreach { c => if (out.isEmpty || !sameXY(out.last, c)) out += c }
    out.toArray
  }

  // ---------------- decode ----------------

  def decode(bytes: Array[Byte]): MvtTile = {
    val r = new PbReader(bytes)
    val layers = mutable.ArrayBuffer.empty[MvtLayer]
    while (r.hasNext) {
      val (field, wt) = r.readTag()
      if (field == TileLayers && wt == Wire.LenDelim) {
        val (b, s, e) = r.readBytes()
        layers += decodeLayer(new PbReader(b, s, e))
      } else r.skip(wt)
    }
    MvtTile(layers.toSeq)
  }

  private def decodeLayer(r: PbReader): MvtLayer = {
    var name = ""
    var extent = 4096
    var version = 1
    val keys = mutable.ArrayBuffer.empty[String]
    val values = mutable.ArrayBuffer.empty[MvtValue]
    val rawFeatures = mutable.ArrayBuffer.empty[(Array[Byte], Int, Int)]
    while (r.hasNext) {
      val (field, wt) = r.readTag()
      field match {
        case LayerVersion  => version = r.readVarint().toInt
        case LayerName     => name = r.readString()
        case LayerFeatures => rawFeatures += r.readBytes()
        case LayerKeys     => keys += r.readString()
        case LayerValues   => val (b, s, e) = r.readBytes(); values += decodeValue(new PbReader(b, s, e))
        case LayerExtent   => extent = r.readVarint().toInt
        case _             => r.skip(wt)
      }
    }
    val (keyTable, valueTable) = (keys.toIndexedSeq, values.toIndexedSeq)
    val feats = rawFeatures.map { case (b, s, e) => decodeFeature(new PbReader(b, s, e), keyTable, valueTable) }
    MvtLayer(name, extent, version, feats.toSeq)
  }

  private def decodeValue(r: PbReader): MvtValue = {
    var v: MvtValue = MvtValue.Str("")
    while (r.hasNext) {
      val (field, wt) = r.readTag()
      field match {
        case ValString => v = MvtValue.Str(r.readString())
        case ValFloat  => v = MvtValue.F32(r.readFloat())
        case ValDouble => v = MvtValue.F64(r.readDouble())
        case ValInt    => v = MvtValue.I64(r.readVarint())
        case ValUint   => v = MvtValue.U64(r.readVarint())
        case ValSint   => v = MvtValue.S64(Wire.unzigzag(r.readVarint()))
        case ValBool   => v = MvtValue.Bool(r.readVarint() != 0)
        case _         => r.skip(wt)
      }
    }
    v
  }

  private def decodeFeature(r: PbReader, keys: IndexedSeq[String], values: IndexedSeq[MvtValue]): MvtFeature = {
    var id: Option[Long] = None
    var geomType = 0
    val tags = mutable.ArrayBuffer.empty[Int]
    val cmds = mutable.ArrayBuffer.empty[Long]
    while (r.hasNext) {
      val (field, wt) = r.readTag()
      field match {
        case FeatId   => id = Some(r.readVarint())
        case FeatTags =>
          if (wt == Wire.LenDelim) {
            val (b, s, e) = r.readBytes()
            val pr = new PbReader(b, s, e)
            while (pr.hasNext) tags += pr.readVarint().toInt
          } else tags += r.readVarint().toInt
        case FeatType => geomType = r.readVarint().toInt
        case FeatGeometry =>
          if (wt == Wire.LenDelim) {
            val (b, s, e) = r.readBytes()
            val pr = new PbReader(b, s, e)
            while (pr.hasNext) cmds += pr.readVarint()
          } else cmds += r.readVarint()
        case _ => r.skip(wt)
      }
    }
    val attrs = tags.grouped(2).collect {
      case mutable.ArrayBuffer(k, v) if k < keys.length && v < values.length => keys(k) -> values(v)
    }.toSeq
    MvtFeature(id, decodeGeometry(geomType, cmds.toArray), attrs)
  }

  def decodeGeometry(geomType: Int, cmds: Array[Long]): Geometry = {
    val f = Geo.factory
    var cx = 0L
    var cy = 0L
    var i = 0
    val parts = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Coordinate]]
    var current: mutable.ArrayBuffer[Coordinate] = null
    val closedFlags = mutable.ArrayBuffer.empty[Boolean]

    while (i < cmds.length) {
      val c = cmds(i); i += 1
      val id = (c & 0x7).toInt
      val count = (c >>> 3).toInt
      id match {
        case CmdMoveTo =>
          var j = 0
          while (j < count) {
            cx += Wire.unzigzag(cmds(i)); cy += Wire.unzigzag(cmds(i + 1)); i += 2
            if (geomType == GeomPoint) {
              if (current == null) { current = mutable.ArrayBuffer.empty; parts += current; closedFlags += false }
              current += new Coordinate(cx.toDouble, cy.toDouble)
            } else {
              current = mutable.ArrayBuffer(new Coordinate(cx.toDouble, cy.toDouble))
              parts += current
              closedFlags += false
            }
            j += 1
          }
        case CmdLineTo =>
          var j = 0
          while (j < count) {
            cx += Wire.unzigzag(cmds(i)); cy += Wire.unzigzag(cmds(i + 1)); i += 2
            current += new Coordinate(cx.toDouble, cy.toDouble)
            j += 1
          }
        case CmdClosePath =>
          if (closedFlags.nonEmpty) closedFlags(closedFlags.length - 1) = true
        case other => throw new IllegalArgumentException(s"bad command $other")
      }
    }

    geomType match {
      case GeomPoint =>
        val coords = parts.flatten.toArray
        if (coords.length == 1) f.createPoint(coords(0)) else f.createMultiPointFromCoords(coords)
      case GeomLine =>
        val lines = parts.filter(_.length >= 2).map(p => f.createLineString(p.toArray)).toArray
        if (lines.length == 1) lines(0) else f.createMultiLineString(lines)
      case GeomPolygon =>
        // winding splits rings into polygons: positive shoelace = new exterior
        val polys = mutable.ArrayBuffer.empty[(Array[Coordinate], mutable.ArrayBuffer[Array[Coordinate]])]
        parts.foreach { p =>
          val ring = (p :+ p.head.copy()).toArray
          if (ring.length >= 4) {
            if (signedArea2(ring) > 0) polys += ((ring, mutable.ArrayBuffer.empty))
            else if (polys.nonEmpty) polys.last._2 += ring
          }
        }
        val jtsPolys = polys.map { case (shell, holes) =>
          f.createPolygon(f.createLinearRing(shell), holes.map(f.createLinearRing).toArray)
        }.toArray
        if (jtsPolys.length == 1) jtsPolys(0) else f.createMultiPolygon(jtsPolys)
      case _ => f.createGeometryCollection(Array.empty)
    }
  }

  private def signedArea2(pts: Array[Coordinate]): Double = {
    var s = 0.0
    var i = 0
    while (i < pts.length - 1) {
      s += pts(i).x * pts(i + 1).y - pts(i + 1).x * pts(i).y
      i += 1
    }
    s
  }
}

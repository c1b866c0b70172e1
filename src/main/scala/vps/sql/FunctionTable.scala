package vps.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.sql.vps.{ColumnBridge, Constructor, Kernel, SqlFunction, StateKernel}

import vps.geom.{CellId, GeometryUDT, TileMath}
import vps.kernels.Clip
import vps.text.{BucketFilter, CollectCapped, ElementPairs, TextOps}

/** The engine's SQL surface, declared once. [[VpsExtensions]] injects and
  * [[functions.register]] registers exactly these rows, and the Column APIs
  * (`vps.sql.functions`, `vps.text.functions`) build their expressions from
  * them.
  *
  * A stateless function is a [[Kernel]] row: a static method on a Scala
  * object over Catalyst's internal values, its argument types (the analyzer
  * casts to them) and its result type. A function with per-call state is a
  * [[StateKernel]] row: a method of a small serializable state class (an
  * error channel, a clip timeout, a parsed CRS pair, a prepared-geometry
  * cache, a reusable probe point), whose instance the row builds from the
  * analyzed arguments (a Column API may pass its own), and a result type that
  * may follow the argument types. Both run inside whole-stage codegen. A
  * [[Constructor]] row is an aggregate.
  */
object FunctionTable {
  private val Geom = GeometryUDT.Instance
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Floats = ArrayType(FloatType)
  private val TileKeys = ArrayType(GeomOps.TileKeyType, containsNull = false)
  private val Tags = MapType(StringType, StringType)
  /** An argument of any array type (no cast). */
  private val AnyArray = ArrayType(NullType)
  private val G = GeomOps.getClass
  private val T = TextOps.getClass

  val rows: Seq[SqlFunction] = Seq(
    Kernel("st_point", G, "point", Seq(DoubleType, DoubleType), Geom),
    StateKernel("st_geomfromwkt", "read", Seq(StringType), _ => Geom, _ => WktReader(None), nullable = true),
    Kernel("st_geomfromwkb", G, "bytes", Seq(Geom), Geom),
    Kernel("st_aswkb", G, "bytes", Seq(Geom), BinaryType),
    Kernel("st_astext", G, "asText", Seq(Geom), StringType),
    Kernel("st_x", G, "stx", Seq(Geom), DoubleType),
    Kernel("st_y", G, "sty", Seq(Geom), DoubleType),
    Kernel("st_area", G, "area", Seq(Geom), DoubleType),
    Kernel("st_length", G, "length", Seq(Geom), DoubleType),
    Kernel("st_numpoints", G, "numPoints", Seq(Geom), IntegerType),
    Kernel("st_numgeometries", G, "numGeometries", Seq(Geom), IntegerType),
    Kernel("st_isempty", G, "isEmpty", Seq(Geom), BooleanType),
    Kernel("st_isvalid", G, "isValid", Seq(Geom), BooleanType),
    Kernel("st_geometrytype", G, "geometryType", Seq(Geom), StringType),
    Kernel("st_centroid", G, "centroid", Seq(Geom), Geom),
    Kernel("st_makevalid", G, "makeValid", Seq(Geom), Geom),
    Kernel("st_buffer", G, "buffer", Seq(Geom, DoubleType), Geom),
    Kernel("st_convexhull", G, "convexHull", Seq(Geom), Geom),
    Kernel("st_envelope", G, "envelope", Seq(Geom), Geom),
    Kernel("st_boundary", G, "boundary", Seq(Geom), Geom),
    Kernel("st_intersection", G, "intersection", Seq(Geom, Geom), Geom),
    Kernel("st_union", G, "union", Seq(Geom, Geom), Geom),
    Kernel("st_difference", G, "difference", Seq(Geom, Geom), Geom),
    Kernel("st_symdifference", G, "symDifference", Seq(Geom, Geom), Geom),
    Kernel("st_distance", G, "distance", Seq(Geom, Geom), DoubleType),
    Kernel("st_towebmercator", G, "toWebMercator", Seq(Geom), Geom),
    Kernel("st_tolonlat", G, "toLonLat", Seq(Geom), Geom),
    StateKernel("st_reproject", "reproject", Seq(Geom, StringType, StringType), _ => Geom, Reprojection.of),
    Kernel("st_simplify", G, "simplify", Seq(Geom, DoubleType, BooleanType), Geom),
    StateKernel("st_cliptotile", "clip", Seq(Geom, IntegerType, IntegerType, IntegerType), _ => Geom,
      _ => TileClip(Clip.DefaultTimeout.toMillis, None)),
    StateKernel("st_contains", "contains", Seq(Geom, Geom), _ => BooleanType, _ => PointProbe()),
    StateKernel("st_intersects", "intersects", Seq(Geom, Geom), _ => BooleanType, _ => PointProbe()),
    StateKernel("st_within", "within", Seq(Geom, Geom), _ => BooleanType, _ => PointProbe()),
    Constructor("st_union_agg", 1, e => StUnionAgg(e(0)).toAggregateExpression()),
    Kernel("tile_x", TileMath.getClass, "tileX", Seq(DoubleType, IntegerType), IntegerType),
    Kernel("tile_y", TileMath.getClass, "tileY", Seq(DoubleType, IntegerType), IntegerType),
    Kernel("tile_keys", G, "tileKeys", Seq(Geom, IntegerType), TileKeys),
    Kernel("parent_tile_keys", G, "parentTileKeys", Seq(TileKeys), TileKeys),
    Kernel("cell_at", CellId.getClass, "fromLonLat", Seq(DoubleType, DoubleType, IntegerType), LongType),
    Kernel("cell_parent", CellId.getClass, "parent", Seq(LongType, IntegerType), LongType),
    Kernel("cell_kring", G, "kRing", Seq(LongType, IntegerType), Longs),
    Kernel("cells_of", G, "cellsOf", Seq(Geom, IntegerType), Longs),

    Kernel("minhash_sig", T, "minhashSig", Seq(StringType, IntegerType, IntegerType), Longs),
    Kernel("minhash_bands", T, "minhashBands",
      Seq(StringType, IntegerType, IntegerType, IntegerType), Longs),
    Kernel("simhash64", T, "simhash64", Seq(StringType), LongType),
    Kernel("simhash_bands", T, "simhashBands", Seq(StringType), Longs),
    Kernel("ngram_jaccard", T, "ngramJaccard", Seq(StringType, StringType, IntegerType), DoubleType),
    Kernel("array_jaccard", T, "arrayJaccard", Seq(Longs, Longs), DoubleType),
    Kernel("char_shingles", T, "shingleSet", Seq(StringType, IntegerType), Longs),
    Kernel("winnow_fingerprints", T, "winnowFingerprints", Seq(StringType, IntegerType, IntegerType), Longs),
    Kernel("term_counts", T, "termCounts", Seq(StringType),
      MapType(StringType, LongType, valueContainsNull = false)),
    Kernel("doc_fingerprint", T, "docFingerprint", Seq(StringType), LongType),
    Kernel("lang_id", T, "language", Seq(StringType), StringType),
    Kernel("random_projection", T, "randomProjection", Seq(Floats, IntegerType),
      ArrayType(DoubleType, containsNull = false)),
    Kernel("hyperplane_bands", T, "hyperplaneBands", Seq(Floats, IntegerType, IntegerType), Longs),
    Kernel("cosine_sim", T, "cosineSim", Seq(Floats, Floats), DoubleType),
    Kernel("hash_uniform", T, "hashUniform", Seq(LongType, LongType), DoubleType),
    StateKernel("array_pairs", "pairs", Seq(AnyArray), ElementPairs.resultType, ElementPairs.of),
    // bounded collect_list; the cap must be a foldable integer literal
    Constructor("collect_capped", 2, e => CollectCapped(e(0), literalCap(e(1))).toAggregateExpression()))

  /** Rows of the Column APIs that SQL does not expose: their callers pass a
    * key contract (`st_intersects_keyed`) or their own state instance
    * (`not_dropped`'s channel and minimum size, the probe rows' broadcast
    * side, and the tile plans' per-call values: a zoom, a tolerance, the
    * fragment generator's zoom, extent and clip, a dirty-key set), or they
    * are the OSM tag and member kernels of `TagFunctions` and `Osm`. A value
    * that changes from call to call rides in the state literal, so the
    * generated code stays the same.
    */
  private[sql] val columnRows: Seq[SqlFunction] = Seq(
    StateKernel("st_intersects_keyed", "intersects", Seq(LongType, Geom, Geom), _ => BooleanType,
      _ => KeyedProbe()),
    StateKernel("probe_ids", "ids", Seq(Geom), _ => Longs, passed("probe_ids"), nullArgs = true),
    StateKernel("probe_names", "names", Seq(Geom), _ => ArrayType(StringType, containsNull = false),
      passed("probe_names"), nullArgs = true),
    StateKernel("tile_fragments", "fragments", Seq(Geom, IntegerType, IntegerType), _ => TileClip.FragmentType,
      passed("tile_fragments")),
    StateKernel("not_dropped", "keep", Seq(AnyArray), _ => BooleanType, _ => BucketFilter(None, 2),
      nullArgs = true),
    StateKernel("tile_keys_at", "keys", Seq(Geom), _ => TileKeys, passed("tile_keys_at")),
    StateKernel("simplified", "simplify", Seq(Geom), _ => Geom, passed("simplified")),
    StateKernel("in_tile_subset", "overlaps", Seq(Geom), _ => BooleanType, passed("in_tile_subset")),
    StateKernel("tile_in_subset", "contains", Seq(IntegerType, IntegerType), _ => BooleanType,
      passed("tile_in_subset")),
    StateKernel("remove_uninteresting_tags", "withoutUninteresting", Seq(Tags), _.head, _ => TagRules.current()),
    StateKernel("remove_semi_interesting_tags", "withoutSemiInteresting", Seq(Tags), _.head,
      _ => TagRules.current()),
    StateKernel("is_area", "isArea", Seq(Tags), _ => BooleanType, _ => TagRules.current(), nullable = true),
    StateKernel("compress_members", "compress", Seq(AnyArray), t => OsmMembers.compressedType(t.head),
      a => OsmMembers.of(a.head.dataType)),
    StateKernel("way_member_refs", "wayRefs", Seq(AnyArray), _ => OsmMembers.WayRefsType,
      a => OsmMembers.of(a.head.dataType)))

  private val byName: Map[String, SqlFunction] = (rows ++ columnRows).map(f => f.name -> f).toMap

  /** The row `name` applied to Column arguments (the Column APIs' builder). */
  private[vps] def call(name: String, args: Column*): Column =
    ColumnBridge.column(byName(name)(args.map(ColumnBridge.expression)))

  /** The [[StateKernel]] row `name` applied to Column arguments with the
    * Column API's own state instance.
    */
  private[vps] def callWith(name: String, state: AnyRef)(args: Column*): Column =
    ColumnBridge.column(byName(name).asInstanceOf[StateKernel](args.map(ColumnBridge.expression), state))

  /** The state of a row whose Column API always passes its own instance. */
  private def passed(name: String): Seq[Expression] => AnyRef =
    _ => throw new IllegalStateException(s"$name takes its state from its Column API")

  // checked BEFORE eval: a column-reference cap would otherwise die inside
  // eval(InternalRow.empty) with an unhelpful unresolved/NPE-style error
  private def literalCap(cap: Expression): Int = {
    def bad(got: Any) = new IllegalArgumentException(
      s"collect_capped: cap must be a foldable integer literal, got $got")
    if (!cap.foldable) throw bad(cap.sql)
    cap.eval(InternalRow.empty) match {
      case n: Number => n.intValue()
      case other => throw bad(other)
    }
  }
}

package vps.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{array, col, explode, lit, map, struct}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vps.{Kernel, StateKernel}
import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession
import vps.geom.{CellId, Geo, Wkb}

/** Table-driven checks of the SQL surface: both entry points expose exactly
  * the [[FunctionTable]] rows, every row runs from SQL, and every kernel row
  * runs inside whole-stage codegen with the same answers as the interpreter.
  */
class FunctionTableSpec extends AnyFunSuite {

  /** A session with the table registered through `functions.register`. */
  private lazy val registered: SparkSession = {
    val s = SparkTestSession.spark.newSession()
    functions.register(s)
    s
  }

  /** A session built with [[VpsExtensions]] on the shared context
    * (`spark.sql.extensions` is static, so the builder route is used).
    */
  private lazy val extended: SparkSession = {
    val shared = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new VpsExtensions()).getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  /** SQL arguments of each row over the view `t` (see [[view]]). */
  private val samples: Map[String, String] = Map(
    "st_point" -> "lon, lat",
    "st_geomfromwkt" -> "wkt",
    "st_geomfromwkb" -> "wkb",
    "st_aswkb" -> "g",
    "st_astext" -> "poly",
    "st_x" -> "g",
    "st_y" -> "g",
    "st_area" -> "poly",
    "st_length" -> "poly",
    "st_numpoints" -> "poly",
    "st_numgeometries" -> "poly",
    "st_isempty" -> "g",
    "st_isvalid" -> "poly",
    "st_geometrytype" -> "poly",
    "st_centroid" -> "poly",
    "st_makevalid" -> "poly",
    "st_buffer" -> "g, 1",
    "st_convexhull" -> "poly",
    "st_envelope" -> "poly",
    "st_boundary" -> "poly",
    "st_intersection" -> "poly, poly2",
    "st_union" -> "poly, poly2",
    "st_difference" -> "poly, poly2",
    "st_symdifference" -> "poly, poly2",
    "st_distance" -> "g, poly2",
    "st_towebmercator" -> "poly",
    "st_tolonlat" -> "st_towebmercator(poly)",
    "st_reproject" -> "g, 'EPSG:4326', 'EPSG:32633'",
    "st_simplify" -> "poly, 0.1, true",
    "st_cliptotile" -> "poly, 6, 31, 24",
    "st_contains" -> "poly, g",
    "st_intersects" -> "poly, g",
    "st_within" -> "g, poly",
    "st_union_agg" -> "poly",
    "tile_x" -> "lon, 8",
    "tile_y" -> "lat, 8",
    "tile_keys" -> "poly, 6",
    "parent_tile_keys" -> "tile_keys(poly, 6)",
    "cell_at" -> "lon, lat, 10",
    "cell_parent" -> "cell, 4",
    "cell_kring" -> "cell, 1",
    "cells_of" -> "poly, 8",
    "minhash_sig" -> "txt, 8, 5",
    "minhash_bands" -> "txt, 8, 4, 5",
    "simhash64" -> "txt",
    "simhash_bands" -> "txt",
    "ngram_jaccard" -> "txt, txt2, 3",
    "array_jaccard" -> "char_shingles(txt, 3), char_shingles(txt2, 3)",
    "char_shingles" -> "txt, 3",
    "winnow_fingerprints" -> "txt, 4, 3",
    "term_counts" -> "txt",
    "doc_fingerprint" -> "txt",
    "lang_id" -> "txt",
    "random_projection" -> "vec, 3",
    "hyperplane_bands" -> "vec, 2, 3",
    "cosine_sim" -> "vec, vec2",
    "hash_uniform" -> "id, 7",
    "array_pairs" -> "array(id, id + 1, id + 2)",
    "collect_capped" -> "id, 10")

  private def names: Set[String] = FunctionTable.rows.map(_.name).toSet

  private def kernels: Seq[Kernel] = FunctionTable.rows.collect { case k: Kernel => k }

  private def stateRows: Seq[StateKernel] = FunctionTable.rows.collect { case k: StateKernel => k }

  /** Column-API calls of the rows SQL does not expose, over the view `t`. */
  private def columnSamples(s: SparkSession): Map[String, DataFrame] = {
    val t = s.table("t")
    // the broadcast side of the probe rows: the rows with a box
    val boxes = t.where(col("poly").isNotNull)
    val tags = map(lit("source"), col("txt"), lit("building"), col("txt2"))
    val members = array(struct(lit("way").as("type"), col("id").as("ref"), col("txt").as("role"))).as("members")
    Map(
      "st_intersects_keyed" -> t.where(functions.st_intersects_keyed(col("id"), col("poly"), col("g"))),
      "tile_fragments" -> t.select(explode(functions.tile_fragments(col("poly"), 6, lit(31), lit(24),
        4096, withArea = false))),
      "not_dropped" -> t.where(vps.text.functions.not_dropped(array(col("id")), None, 1)),
      "probe_ids" -> t.select(explode(functions.probe_ids(IndexProbe.ofIds(boxes, "id", "poly"), col("g")))),
      "probe_names" -> t.select(functions.probe_names(IndexProbe.ofNames(boxes, "txt", "poly"), col("g"))),
      "tile_keys_at" -> t.select(functions.tile_keys_at(col("poly"), 6)),
      "simplified" -> t.select(functions.simplified(col("poly"), 0.1, preserveTopology = true)),
      "in_tile_subset" -> t.where(functions.in_tile_subset(TileSubset.of(6, Set((31, 24))), col("poly"))),
      "tile_in_subset" -> t.where(functions.tile_in_subset(TileSubset.of(6, Set((31, 24))), col("id").cast("int"),
        lit(24))),
      "remove_uninteresting_tags" -> t.select(TagFunctions.removeUninterestingTags(tags)),
      "remove_semi_interesting_tags" -> t.select(TagFunctions.removeSemiInterestingTags(tags)),
      "is_area" -> t.select(TagFunctions.isArea(tags)),
      "compress_members" -> vps.osm.Osm.ensureCompressedMembers(t.select(members)),
      "way_member_refs" -> vps.osm.Osm.ensureCompressedMembers(t.select(members))
        .select(explode(FunctionTable.call("way_member_refs", col("members")))))
  }

  /** Eight points with a unit box around each, texts and vectors, plus an
    * all-null row, in 4 partitions of a parallelized RDD (no local relation,
    * so projections are planned, not folded).
    */
  private def view(s: SparkSession): Unit = {
    val rows = (0 until 8).map { i =>
      val lon = -10.0 + 2.5 * i
      val lat = 40.0 + 0.5 * i
      Row(i.toLong, lon, lat, s"POINT ($lon $lat)", Wkb.write(Geo.point(lon, lat)),
        Wkb.write(Geo.box(lon - 0.5, lat - 0.5, lon + 0.5, lat + 0.5)),
        Wkb.write(Geo.box(lon, lat, lon + 1, lat + 1)),
        s"the quick brown fox $i jumps over the lazy dog", s"the quick brown cat $i sleeps",
        Seq(i.toFloat, 1f, -1f, 0.5f), Seq(1f, i.toFloat, 0.5f, -1f), CellId.fromLonLat(lon, lat, 10))
    } :+ Row.fromSeq(Seq.fill(12)(null))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lon", DoubleType), StructField("lat", DoubleType),
      StructField("wkt", StringType), StructField("wkb", BinaryType), StructField("pwkb", BinaryType),
      StructField("pwkb2", BinaryType), StructField("txt", StringType), StructField("txt2", StringType),
      StructField("vec", ArrayType(FloatType)), StructField("vec2", ArrayType(FloatType)),
      StructField("cell", LongType)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema).createOrReplaceTempView("raw")
    s.sql("""SELECT *, st_geomfromwkb(wkb) AS g, st_geomfromwkb(pwkb) AS poly,
            |  st_geomfromwkb(pwkb2) AS poly2 FROM raw""".stripMargin).createOrReplaceTempView("t")
  }

  private def run(s: SparkSession, name: String): DataFrame =
    s.sql(s"SELECT $name(${samples(name)}) AS r FROM t")

  /** Every node of the final executed plan, through adaptive wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  })

  private lazy val builtins: Set[String] = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet

  /** Names a session adds to Spark's built-in functions. */
  private def added(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet -- builtins

  test("every table row has a sample and a unique name") {
    assert(FunctionTable.rows.map(_.name).distinct.size === FunctionTable.rows.size)
    assert(samples.keySet === names)
  }

  test("VpsExtensions injects and functions.register registers exactly the table's names") {
    // Spark 4.1 has a built-in st_geomfromwkb (to its own GEOMETRY type); the
    // table's row replaces it, so it is the one name the sessions do not add
    val shadowed = names & builtins
    assert(shadowed === Set("st_geomfromwkb"))
    assert(added(extended) ++ shadowed === names)
    assert(added(registered) ++ shadowed === names)
    Seq(registered, extended).foreach { s =>
      assert(s.sql("SELECT st_geomfromwkb(X'00')").schema.head.dataType === vps.geom.GeometryUDT.Instance)
    }
  }

  test("every row runs through spark.sql in both sessions, with the same answers") {
    Seq(registered, extended).foreach(view)
    names.toSeq.sorted.foreach { name =>
      val viaRegister = run(registered, name).collect().toSeq
      val viaExtensions = run(extended, name).collect().toSeq
      assert(viaRegister.size === (if (name == "st_union_agg" || name == "collect_capped") 1 else 9), name)
      assert(viaRegister === viaExtensions, name)
    }
  }

  test("st_buffer takes integer and decimal literal distances through both entry points") {
    for (s <- Seq(registered, extended); d <- Seq("1", "1.0", "CAST(1 AS BIGINT)")) {
      val area = s.sql(s"SELECT st_area(st_buffer(st_point(0, 0), $d))").head().getDouble(0)
      assert(area > 0.97 * math.Pi && area <= math.Pi, s"distance $d: area $area")
    }
  }

  test("every kernel row runs as a StaticInvoke inside whole-stage codegen, no CodegenFallback") {
    view(registered)
    kernels.foreach { k =>
      val df = run(registered, k.name)
      df.collect()
      val plan = nodes(df.queryExecution.executedPlan)
      val fused = plan.collect { case w: WholeStageCodegenExec => nodes(w.child) }.flatten
      val invokes = fused.collect { case p: ProjectExec => p }
        .flatMap(_.projectList.flatMap(_.collect { case i: StaticInvoke => i.functionName }))
      assert(invokes.contains(k.method), s"${k.name}:\n${plan.head.treeString}")
      val fallbacks = plan.flatMap(_.expressions.flatMap(_.collect { case f: CodegenFallback => f }))
      assert(fallbacks.isEmpty, s"${k.name}:\n${plan.head.treeString}")
    }
  }

  /** The operators of one whole-stage codegen stage, down to its inputs. */
  private def stage(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(stage)
  }

  test("every state row runs as an Invoke on its state literal inside whole-stage codegen") {
    view(registered)
    assert(columnSamples(registered).keySet === FunctionTable.columnRows.map(_.name).toSet)
    val calls = stateRows.map(k => k.method -> run(registered, k.name)) ++
      FunctionTable.columnRows.map { case k: StateKernel => k.method -> columnSamples(registered)(k.name) }
    calls.foreach { case (method, df) =>
      df.collect()
      val plan = nodes(df.queryExecution.executedPlan)
      val fused = plan.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
      val invokes = fused.flatMap(_.expressions.flatMap(_.collect {
        case i: Invoke if i.targetObject.isInstanceOf[Literal] => i.functionName
      }))
      assert(invokes.contains(method), s"$method:\n${plan.head.treeString}")
    }
  }

  test("no row's plan holds a CodegenFallback other than an aggregate function") {
    view(registered)
    val plans = FunctionTable.rows.map(f => f.name -> run(registered, f.name)) ++
      columnSamples(registered).toSeq
    plans.foreach { case (name, df) =>
      val plan = nodes(df.queryExecution.executedPlan)
      val fallbacks = plan.flatMap(_.expressions.flatMap(_.collect {
        case f: CodegenFallback if !f.isInstanceOf[AggregateFunction] => f
      }))
      assert(fallbacks.isEmpty, s"$name:\n${plan.head.treeString}")
    }
  }

  test("a kernel feeding a null-intolerant join condition is evaluated once per row") {
    // Dedup's verify joins char_shingles sets under array_jaccard(sh_a, sh_b) >= t;
    // an isnotnull(sh) filter inferred through the kernel would be pushed below
    // the projection and shingle every document twice
    val s = SparkTestSession.spark
    val docs = s.createDataFrame(s.sparkContext.parallelize((0 until 40).map { i =>
      Row(i.toLong, if (i == 7) null else s"near duplicate document number ${i % 5} of the corpus")
    }, 4), StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    val pairs = vps.ml.Dedup.minhashCandidates(docs, minJaccard = 0.5)
    assert(pairs.count() > 0)
    val plan = nodes(pairs.queryExecution.executedPlan)
    val filtered = plan.collect { case f: FilterExec => f.condition }
      .flatMap(_.collect { case i: StaticInvoke => i.functionName })
    assert(!filtered.contains("shingleSet"), plan.head.treeString)
  }

  test("every kernel row gives the same rows generated and interpreted") {
    val s = registered
    view(s)
    val names = (kernels ++ stateRows).map(_.name)
    val generated = names.map(run(s, _).collect().toSeq)
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val before = keys.map(k => k -> s.conf.getOption(k))
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    try names.zip(generated).foreach { case (name, rows) =>
      assert(run(s, name).collect().toSeq === rows, name)
    } finally before.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}

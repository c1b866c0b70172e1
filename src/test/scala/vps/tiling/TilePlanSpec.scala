package vps.tiling

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession
import vps.osm.OsmPlans
import vps.sql.functions._

/** Plan gate for the tiling fold: one exchange per zoom, keyed by tile, no
  * collecting aggregate (the fragments of a tile meet once, in the reducer
  * that encodes it), and one fragment generator per zoom, fused into
  * whole-stage codegen.
  */
class TilePlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // points plus a polygon across tiles; no exchange of its own
  private lazy val input = spark.range(0, 2000).toDF("id")
    .select(col("id"), st_point(
      (col("id") % 50).cast("double") * 0.7 - 17.0,
      (col("id") / 50).cast("double") * 0.9 - 18.0).as("geom"))
    .unionByName(spark.range(2000, 2001).toDF("id")
      .select(col("id"), st_geomFromWKT(lit("POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10))")).as("geom")))

  /** Every node of the final executed plan, through adaptive wrappers, query
    * stages and cached relations.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => other.children.flatMap(nodes)
  })

  private def assertOneTileExchange(tiles: Dataset[TileRow]): Unit = {
    val plan = nodes(tiles.queryExecution.executedPlan)
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashExchanges.size === 1, plan.head.treeString)
    assert(plan.collect { case a: ObjectHashAggregateExec => a }.isEmpty, plan.head.treeString)
    assert(plan.flatMap(_.expressions.flatMap(_.collect { case c: CollectList => c })).isEmpty,
      plan.head.treeString)
  }

  /** The operators of one whole-stage codegen stage, down to its inputs. */
  private def stage(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(stage)
  }

  private def assertOneFusedFragmentGenerator(tiles: Dataset[TileRow]): Unit = {
    val plan = nodes(tiles.queryExecution.executedPlan)
    val generators = plan.collect {
      case g: GenerateExec if g.generator.exists {
        case i: Invoke => i.functionName == "fragments"
        case _ => false
      } => g
    }
    assert(generators.size === 1, plan.head.treeString)
    val fused = plan.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
    assert(fused.exists(_ eq generators.head), plan.head.treeString)
  }

  test("the fragment generator runs once per zoom, inside whole-stage codegen") {
    val tiles = TilePipeline.tileZoom(input, 6)
    assert(tiles.collect().nonEmpty)
    assertOneFusedFragmentGenerator(tiles)
    var checked = Seq.empty[Int]
    TilePipeline.pyramidRekey(input, 5, 6) { (z, tiles) =>
      assert(tiles.collect().nonEmpty)
      assertOneFusedFragmentGenerator(tiles)
      checked :+= z
    }
    assert(checked === Seq(6, 5))
  }

  test("tileZoom and a pyramidRekey zoom hold no object-conversion operator") {
    val tiles = TilePipeline.tileZoom(input, 6)
    assert(tiles.collect().nonEmpty)
    assert(OsmPlans.objectOperators(tiles.queryExecution.executedPlan).isEmpty,
      tiles.queryExecution.executedPlan.treeString)
    var checked = Seq.empty[Int]
    TilePipeline.pyramidRekey(input, 5, 6) { (z, tiles) =>
      assert(tiles.collect().nonEmpty)
      assert(OsmPlans.objectOperators(tiles.queryExecution.executedPlan).isEmpty,
        tiles.queryExecution.executedPlan.treeString)
      checked :+= z
    }
    assert(checked === Seq(6, 5))
  }

  test("tileZoom's final plan has exactly one hash exchange and no collecting aggregate") {
    val tiles = TilePipeline.tileZoom(input, 6)
    assert(tiles.collect().nonEmpty)
    assertOneTileExchange(tiles)
  }

  test("a pyramidRekey compiles no tile class after its first zoom, and no class after its first re-key") {
    // the zoom and the tolerance ride in state literals, so every zoom runs one
    // set of tile classes; each re-key after the first runs the first one's
    // stage, and the stats read the sink's plan
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val dir = java.nio.file.Files.createTempDirectory("tile-plan-spec")
    try OsmPlans.withoutAqe(spark) {
      OsmPlans.emptyCodegenCache()
      var counts = Map.empty[Int, Long]
      var added = Map.empty[Int, Set[String]]
      var cached = Set.empty[String]
      var last = compiles.getCount
      TilePipeline.pyramidRekey(input, 4, 6) { (z, tiles) =>
        TileSink.write(tiles, dir.toString)
        val now = OsmPlans.cacheEntries().values.toSet
        counts += z -> (compiles.getCount - last)
        added += z -> (now -- cached)
        cached = now
        last = compiles.getCount
      }
      assert(counts(6) > 0)
      assert(counts(5) === added(5).size && added(5).exists(_.contains("GeomOps.parentTileKeys")), added(5))
      assert(!added(5).exists(_.contains("TileFragments")), added(5))
      assert(counts(4) === 0, added(4))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("one pyramidRekey zoom's final plan has exactly one hash exchange and no collecting aggregate") {
    var checked = Seq.empty[Int]
    TilePipeline.pyramidRekey(input, 5, 6) { (z, tiles) =>
      assert(tiles.collect().nonEmpty)
      assertOneTileExchange(tiles)
      checked :+= z
    }
    assert(checked === Seq(6, 5))
  }
}

package vps.tiling

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession
import vps.sql.functions._

/** Plan gate for the tiling fold: one exchange per zoom, keyed by tile, and
  * no collecting aggregate (the fragments of a tile meet once, in the
  * reducer that encodes it).
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

  test("tileZoom's final plan has exactly one hash exchange and no collecting aggregate") {
    val tiles = TilePipeline.tileZoom(input, 6)
    assert(tiles.collect().nonEmpty)
    assertOneTileExchange(tiles)
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

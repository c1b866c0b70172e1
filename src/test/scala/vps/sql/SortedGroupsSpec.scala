package vps.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession
import vps.osm.{Osm, OsmHistories}
import vps.tiling.TilePipeline

object SortedGroupsSpec {
  /** One row per key: the key, its row count and the sum of `v`. */
  case object Sums extends GroupKernel {
    def apply(group: IndexedSeq[InternalRow]): Iterator[InternalRow] =
      Iterator.single(InternalRow(group.head.getLong(0), group.size.toLong, group.map(_.getLong(1)).sum))
  }
}

class SortedGroupsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the kernel runs once per key with every row of that key") {
    val df = spark.range(0, 1000, 1, 7).select((col("id") % 37).as("k"), col("id").as("v"))
    val schema = StructType(Seq("k", "n", "sum").map(StructField(_, LongType, nullable = false)))
    val out = SortedGroups(df, Seq("k"), schema, SortedGroupsSpec.Sums).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = df.groupBy("k").agg(count(lit(1)), sum("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 37)
    assert(out.toSet === expected.toSet)
  }

  test("toGeometry and pyramidRekey leave the caller's SQL conf as it was and register one planner") {
    val history = OsmHistories.frame(spark, OsmHistories.synthesized(1))
    val conf = spark.conf.getAll
    val others = spark.experimental.extraStrategies.filterNot(_ eq SortedGroups.Planner)
    for (_ <- 1 to 2) {
      val geoms = Osm.snapshot(Osm.toGeometry(history)).where(col("geom").isNotNull).select(col("id"), col("geom"))
      TilePipeline.pyramidRekey(geoms, 11, 12)((_, tiles) => assert(tiles.collect().nonEmpty))
    }
    assert(spark.conf.getAll === conf)
    val strategies = spark.experimental.extraStrategies
    assert(strategies.count(_ eq SortedGroups.Planner) === 1)
    assert(strategies.filterNot(_ eq SortedGroups.Planner) === others)
    // the planner plans its own node and nothing else
    assert(SortedGroups.Planner(spark.range(3).queryExecution.optimizedPlan).isEmpty)
  }
}

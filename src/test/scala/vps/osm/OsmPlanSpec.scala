package vps.osm

import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession

/** Plan gate for `Osm.toGeometry`: one routing join and one keyed pass per
  * element type keep the exchange count low, and no call-time literal
  * changes the generated code from one call to the next.
  */
class OsmPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val history = OsmHistories.frame(spark, OsmHistories.edgeCases)

  test("toGeometry's executed plan has at most 16 exchanges") {
    val n = OsmPlans.exchanges(Osm.toGeometry(history))
    assert(n <= 16, s"$n exchanges")
    // the DataFrame program it replaced needed more than twice as many
    assert(OsmPlans.exchanges(OsmOracle.toGeometry(history)) > 2 * n)
  }

  test("toGeometry's optimized plan holds no current_timestamp literal") {
    assert(OsmPlans.timestampLiterals(Osm.toGeometry(history)).isEmpty)
    // the gate sees the literal the optimizer puts in for current_timestamp()
    assert(OsmPlans.timestampLiterals(OsmOracle.toGeometry(history)).nonEmpty)
  }
}

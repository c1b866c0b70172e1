package vps.osm

import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession

/** Plan gate for `Osm.toGeometry`: one keyed kernel pass per history, each
  * kernel run once, no object-conversion operator, few generated classes,
  * and no call-time literal that changes the generated code from one call to
  * the next.
  */
class OsmPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val history = OsmHistories.frame(spark, OsmHistories.edgeCases)

  test("toGeometry's executed plan has at most 10 exchanges") {
    val df = Osm.toGeometry(history)
    val n = OsmPlans.exchanges(df)
    assert(n <= 10, s"$n exchanges")
    assert(OsmPlans.shuffles(df) <= 8)
    // the DataFrame program it replaced needed more than twice as many
    assert(OsmPlans.exchanges(OsmOracle.toGeometry(history)) > 2 * n)
  }

  test("snapshot(toGeometry)'s executed plan holds no object-conversion operator") {
    val plan = OsmPlans.executed(Osm.snapshot(Osm.toGeometry(history)))
    assert(OsmPlans.objectOperators(plan).isEmpty, plan.treeString)
    // the gate sees a typed filter and a typed group
    import spark.implicits._
    val typed = spark.range(4).as[Long].filter(_ > 0).groupByKey(_ % 2).mapGroups((k, vs) => k + vs.sum)
    assert(OsmPlans.objectOperators(typed.queryExecution.executedPlan).map(_.takeWhile(_ != ' ')).toSet ===
      Set("Filter", "AppendColumns", "MapGroups", "SerializeFromObject"))
  }

  test("toGeometry runs each kernel once, with no window or object aggregate") {
    val df = Osm.toGeometry(history)
    assert(OsmPlans.wayKernels(df) === 1)
    assert(OsmPlans.windows(df) === 0)
    assert(OsmPlans.objectHashAggregates(df) === 0)
    assert(OsmPlans.codegenStages(df) <= 20)
    // the window-based oracle is what the counters see when they are not zero
    assert(OsmPlans.windows(OsmOracle.toGeometry(history)) > 0)
  }

  test("toGeometry's optimized plan holds no current_timestamp literal") {
    assert(OsmPlans.timestampLiterals(Osm.toGeometry(history)).isEmpty)
    // the snapshot's as-of time reaches the plan as an object, not a literal
    val snapshot = Osm.snapshot(Osm.toGeometry(history))
    assert(OsmPlans.timestampLiterals(snapshot).isEmpty)
    assert(OsmPlans.timestampLiterals(Osm.snapshot(Osm.toGeometry(history), OsmHistories.at(100))).isEmpty)
    // the gate sees the literal the optimizer puts in for current_timestamp()
    assert(OsmPlans.timestampLiterals(OsmOracle.toGeometry(history)).nonEmpty)
  }

  test("one cold snapshot(toGeometry) action compiles at most half the classes of the typed-cogroup plan") {
    // the typed-cogroup plan it replaced compiled 62 in this measurement (`OsmPlans`, label `before`)
    def run(): Unit = Osm.snapshot(Osm.toGeometry(history)).write.format("noop").mode("overwrite").save()
    val classes = OsmPlans.withoutAqe(spark)(OsmPlans.cold(run()).classes)
    assert(classes > 0 && classes <= 62 / 2, s"$classes classes")
  }

  /** `OsmPlans.operation` over the synthesized history, `runs` times in a
    * row from an empty generated-code cache: the steps of each run.
    */
  private def operations(runs: Int): Seq[Seq[(String, OsmPlans.Compiled)]] = {
    val tiles = java.nio.file.Files.createTempDirectory("osm-plan-spec-tiles")
    try OsmPlans.withoutAqe(spark) {
      val history = OsmHistories.frame(spark, OsmHistories.synthesized(1))
      OsmPlans.emptyCodegenCache()
      (1 to runs).map(_ => OsmPlans.operation(history, tiles.toString))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tiles.toFile)
  }

  test("one cold osm_tiles-shaped operation compiles fewer classes than the generated-code cache holds") {
    // toGeometry -> snapshot -> pyramidRekey z12-13 -> refreshTiles z13, sinks included;
    // in this measurement (`OsmPlans` steps) the typed-cogroup plans compiled 112, the
    // first sorted-group plans 60, and these plans 33, well under the cache's 100
    val steps = operations(1).head
    val classes = steps.map(_._2.classes).sum
    assert(classes > 0 && classes <= 40, steps.mkString(", "))
  }

  test("a second osm_tiles-shaped operation compiles no class in any step") {
    // the refresh step included: its dirty keys, zoom and tolerance ride in state literals
    val Seq(_, warm) = operations(2)
    assert(warm.map(_._1) === Seq("toGeometry + snapshot", "pyramidRekey z12-13 + sink", "refreshTiles z13 + sink"))
    warm.foreach { case (step, c) => assert(c.classes === 0, s"$step: ${c.names.mkString("; ")}") }
  }

  test("a second snapshot(toGeometry) call compiles no class") {
    def run(): Unit = Osm.snapshot(Osm.toGeometry(history)).write.format("noop").mode("overwrite").save()
    run()
    Thread.sleep(5) // a later call reads a later "now"
    assert(OsmPlans.compiles(run()) === 0)
  }
}

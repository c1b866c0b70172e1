package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs and outputs are a function of its seed: the same
  * seed gives identical input rows, tile counts, tile bytes and join pair
  * counts; another seed gives other inputs.
  */
class DeterminismSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val scale = 0.2
  private lazy val runDir = Files.createTempDirectory("perfbench-determinism").toFile
  private lazy val spark: SparkSession = Main.session(2, runDir, "perfbench-determinism")

  override def afterAll(): Unit = {
    spark.stop()
    Checks.deleteTree(runDir)
  }

  private def ctx(seed: Long) = Ctx(spark, 2, seed, scale, runDir, new Tracer(spark.sparkContext))

  /** Input row count and an order-sensitive digest of the generated rows. */
  private def osmInput(seed: Long): (Int, Int) = {
    val in = OsmGen.generate(seed, scale)
    (in.rows.size, in.rows.map(_.toString).hashCode)
  }
  private def pipInput(seed: Long): (Int, Int) = {
    val in = PipGen.generate(seed, scale)
    (in.points.length + in.polys.size, (in.points.toSeq.map(_.toString) ++ in.polys.map(_._2.toText)).hashCode)
  }

  /** The counters that must repeat exactly for one seed. */
  private def outputs(name: String, seed: Long, keys: Seq[String]): Seq[Double] = {
    val w = Workload(name, ctx(seed))
    w.setup()
    try {
      val o = w.op(0, traced = false)
      assert(o.problems.isEmpty, o.problems.mkString("; "))
      keys.map(o.counters)
    } finally w.teardown()
  }

  test("the same seed generates the same inputs; another seed other inputs") {
    assert(osmInput(1) === osmInput(1))
    assert(pipInput(1) === pipInput(1))
    assert(osmInput(1) !== osmInput(2))
    assert(pipInput(1) !== pipInput(2))
  }

  test("osm_tiles: the same seed gives the same tile counts and tile bytes") {
    val keys = Seq("osm.geoms_out", "sink.files", "tile_bytes", "max_tile_bytes", "tile_features", "streaming.dirty_tiles")
    val a = outputs("osm_tiles", 1, keys)
    assert(a === outputs("osm_tiles", 1, keys))
    assert(a !== outputs("osm_tiles", 2, keys))
  }

  test("pip_join: the same seed gives the same join pair counts") {
    val keys = Seq("pairs", "joins.hits", "joins.cell_candidates")
    val a = outputs("pip_join", 1, keys)
    assert(a === outputs("pip_join", 1, keys))
    assert(a !== outputs("pip_join", 2, keys))
  }
}

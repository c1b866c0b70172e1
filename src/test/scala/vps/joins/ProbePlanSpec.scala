package vps.joins

import java.io.{ByteArrayOutputStream, ObjectOutputStream}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.execution.{DeserializeToObjectExec, InputAdapter, MapPartitionsExec, SerializeFromObjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession
import vps.geom.{Geo, Wkb}
import vps.osm.OsmPlans.withoutAqe
import vps.sql.functions.st_geomFromWKB

/** Plan gate of the broadcast spatial probe: `pipBroadcast`,
  * `pipBroadcastIds` and `Geocode.withRegions` each plan as one kernel call
  * on the probe's state literal inside whole-stage codegen, with no
  * conversion of rows to objects and back, and the state that rides in the
  * plan is the broadcast handle, not the polygons.
  */
class ProbePlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 4),
    StructType(Seq(StructField("id", LongType), StructField("wkb", BinaryType))))
    .select(col("id"), st_geomFromWKB(col("wkb")).as("geom"))

  private lazy val points = frame((0 until 400).map { i =>
    Row(i.toLong, Wkb.write(Geo.point((i % 20) * 1.1 - 11.0, (i / 20) * 1.1 - 11.0)))
  })

  /** `n` boxes of 3 x 3 degrees on a 40-column grid. */
  private def polygons(n: Int): DataFrame = frame((0 until n).map { i =>
    val lon = (i % 40) * 4.0 - 80.0
    val lat = (i / 40) * 4.0 - 50.0
    Row(i.toLong, Wkb.write(Geo.box(lon, lat, lon + 3.0, lat + 3.0)))
  }).withColumnRenamed("id", "poly_id")

  private def probes(n: Int): Seq[(String, DataFrame)] = {
    val polys = polygons(n)
    Seq(
      "pipBroadcast" -> SpatialJoins.pipBroadcast(points, polys),
      "pipBroadcastIds" -> SpatialJoins.pipBroadcastIds(points, polys),
      "withRegions" -> Geocode.withRegions(points,
        polys.select(concat(lit("r"), col("poly_id")).as("name"), col("geom"))))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)

  /** The operators of one whole-stage codegen stage, down to its inputs. */
  private def stage(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(stage)
  }

  /** Each plan node with every probe call (`ids`/`names` on a state literal) in it. */
  private def probeCalls(plan: SparkPlan): Seq[(SparkPlan, Invoke)] =
    nodes(plan).flatMap(n => n.expressions.flatMap(_.collect {
      case i: Invoke if i.targetObject.isInstanceOf[Literal] && Set("ids", "names")(i.functionName) => n -> i
    }))

  test("the broadcast probes plan as one fused kernel call, with no object conversion") {
    withoutAqe(spark) {
      probes(40).foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan
        val objectNodes = nodes(plan).collect {
          case n @ (_: DeserializeToObjectExec | _: MapPartitionsExec | _: SerializeFromObjectExec) => n.nodeName
        }
        assert(objectNodes.isEmpty, s"$name:\n${plan.treeString}")
        val calls = probeCalls(plan)
        assert(calls.size === 1, s"$name:\n${plan.treeString}")
        val fused = nodes(plan).collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
        assert(fused.exists(_ eq calls.head._1), s"$name:\n${plan.treeString}")
      }
    }
  }

  test("the probe's state is its broadcast handle: under 1 KB serialized with 1,000 polygons") {
    withoutAqe(spark) {
      probes(1000).foreach { case (name, df) =>
        val calls = probeCalls(df.queryExecution.executedPlan)
        assert(calls.size === 1, name)
        val bytes = new ByteArrayOutputStream()
        val out = new ObjectOutputStream(bytes)
        out.writeObject(calls.head._2.targetObject.asInstanceOf[Literal].value)
        out.close()
        assert(bytes.size < 1024, s"$name: ${bytes.size} bytes")
      }
    }
  }
}

package vps.sql

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types._

import vps.SparkTestSession
import vps.geom.{Geo, Wkb}
import vps.joins.{Geocode, SpatialJoins}
import vps.ml.DedupPlanSpec
import vps.osm.OsmPlans.withoutAqe
import vps.raster.Raster
import vps.tiling.TilePipeline

/** Final executed plans of the operators that call the SQL function kernels.
  *
  * `Test/runMain vps.sql.KernelPlans <dir> <label>` writes the physical plans
  * of `TilePipeline.tileZoom`, one `pyramidRekey` zoom, `SpatialJoins.pipCellJoin`,
  * `SpatialJoins.pipBroadcastIds`, `Geocode.withRegions`, `Raster.zonalStats`
  * and the four LSH operators of `Dedup` over small parallelized inputs to
  * `<dir>/<operator>_<label>.txt`, each headed by the number of plan operators
  * inside whole-stage codegen and the `CodegenFallback` expressions left in
  * the plan. Adaptive execution is off, so the physical plan is final. The
  * `Dedup` plans use 8 shuffle partitions, as in `DedupPlanSpec`, so their
  * explicit bucket respread stays in the plan. Run it
  * on two checkouts with labels `before` and `after` to compare them.
  */
object KernelPlans {
  private def frame(spark: SparkSession, rows: Seq[Row], fields: StructField*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(fields))

  /** Every node of the plan, through cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => other.children.flatMap(nodes)
  })

  /** The operators of one whole-stage codegen stage, down to its inputs. */
  private def stage(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(stage)
  }

  private def write(dir: Path, name: String, label: String, plan: SparkPlan): Unit = {
    val all = nodes(plan)
    val operators = all.count {
      case _: WholeStageCodegenExec | _: InputAdapter => false
      case _ => true
    }
    val fused = all.collect { case w: WholeStageCodegenExec => stage(w.child).size }.sum
    val fallbacks = all.flatMap(_.expressions.flatMap(_.collect { case f: CodegenFallback => f.prettyName }))
    val text =
      s"""-- $name, $label: $fused of $operators operators inside whole-stage codegen
         |-- CodegenFallback expressions: ${if (fallbacks.isEmpty) "none" else fallbacks.mkString(", ")}
         |
         |${plan.treeString}""".stripMargin
    Files.write(dir.resolve(s"${name}_$label.txt"), text.getBytes(StandardCharsets.UTF_8))
    println(s"$name $label: $fused of $operators operators fused, CodegenFallback: ${fallbacks.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val dir = Paths.get(args.headOption.getOrElse("plans/pr5"))
    val label = args.lift(1).getOrElse("after")
    Files.createDirectories(dir)
    import vps.sql.functions._
    import org.apache.spark.sql.functions.{col, concat, lit}

    val id = StructField("id", LongType)
    val wkb = StructField("wkb", BinaryType)
    val points = frame(spark, (0 until 2000).map { i =>
      Row(i.toLong, Wkb.write(Geo.point((i % 50) * 0.7 - 17.0, (i / 50) * 0.9 - 18.0)))
    }, id, wkb).select(col("id"), st_geomFromWKB(col("wkb")).as("geom"))
    val polygons = frame(spark, (0 until 40).map { i =>
      val lon = (i % 8) * 4.0 - 17.0
      val lat = (i / 8) * 6.0 - 18.0
      Row(i.toLong, Wkb.write(Geo.box(lon, lat, lon + 3.0, lat + 5.0)))
    }, id, wkb).select(col("id").as("poly_id"), st_geomFromWKB(col("wkb")).as("geom"))
    withoutAqe(spark) {
      write(dir, "tileZoom", label, TilePipeline.tileZoom(points, 6).queryExecution.executedPlan)
      TilePipeline.pyramidRekey(points, 5, 6) { (z, tiles) =>
        if (z == 5) write(dir, "pyramidRekey_z5", label, tiles.queryExecution.executedPlan)
      }
      write(dir, "pipCellJoin", label,
        SpatialJoins.pipCellJoin(points, polygons, 8).queryExecution.executedPlan)
      write(dir, "pipBroadcastIds", label,
        SpatialJoins.pipBroadcastIds(points, polygons).queryExecution.executedPlan)
      write(dir, "withRegions", label, Geocode.withRegions(points,
        polygons.select(concat(lit("r"), col("poly_id")).as("name"), col("geom"))).queryExecution.executedPlan)
      write(dir, "zonalStats", label, Raster.zonalStats(Raster.rasterize(points, 6, 16),
        polygons.withColumnRenamed("poly_id", "zone_id")).queryExecution.executedPlan)
      DedupPlanSpec.withShufflePartitions(spark, 8) {
        DedupPlanSpec.operators(spark).foreach { case (name, df) =>
          write(dir, name, label, df.queryExecution.executedPlan)
        }
      }
    }
    spark.stop()
  }
}

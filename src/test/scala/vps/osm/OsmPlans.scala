package vps.osm

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.reflect.ClassTag

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{CoGroupExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{ObjectType, TimestampType}

import vps.SparkTestSession
import vps.kernels.WayVersion

/** Plan facts of `toGeometry` and a dump of its plans.
  *
  * `Test/runMain vps.osm.OsmPlans <dir> <label>` writes the optimized and
  * physical plans of `snapshot(toGeometry(h))` over a synthesized history to
  * `<dir>/toGeometry_snapshot_<label>.txt`, headed by the plan counts below
  * and by the number of classes one cold action of it compiles (the count of
  * Spark's codegen compile-time metric over the first action in the JVM).
  * Run it with label `after` here and with label `before` on a checkout of
  * the other commit, with this file copied in. Adaptive execution is off, as
  * in the benchmark.
  */
object OsmPlans {
  /** `f(df)` planned with adaptive execution off, so the physical plan is final. */
  def withoutAqe[T](spark: SparkSession)(f: => T): T = {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  private def executed(df: DataFrame): SparkPlan = withoutAqe(df.sparkSession)(df.queryExecution.executedPlan)

  private def count[T: ClassTag](df: DataFrame): Int = executed(df).collect { case n: T => n }.size

  /** Shuffle exchanges plus reused exchanges of the executed plan. */
  def exchanges(df: DataFrame): Int = shuffles(df) + count[ReusedExchangeExec](df)

  def shuffles(df: DataFrame): Int = count[ShuffleExchangeExec](df)
  def codegenStages(df: DataFrame): Int = count[WholeStageCodegenExec](df)
  def windows(df: DataFrame): Int = count[WindowExec](df)
  def objectHashAggregates(df: DataFrame): Int = count[ObjectHashAggregateExec](df)

  /** Keyed passes over way versions: cogroups that read [[WayVersion]]s. */
  def wayKernels(df: DataFrame): Int = executed(df).collect {
    case c: CoGroupExec if c.leftDeserializer.dataType == ObjectType(classOf[WayVersion]) => c
  }.size

  /** Timestamp literals of the optimized plan, such as the one the optimizer
    * substitutes for `current_timestamp()`.
    */
  def timestampLiterals(df: DataFrame): Seq[Literal] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case l: Literal if l.dataType == TimestampType => l
    }))

  /** Classes Spark's code generator compiles while `action` runs. */
  def compiles(action: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    action
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val dir = Paths.get(args(0))
    val label = args.lift(1).getOrElse("after")
    Files.createDirectories(dir)
    val history = OsmHistories.frame(spark, OsmHistories.synthesized(1))
    val df = Osm.snapshot(Osm.toGeometry(history))
    // first: the generated-code cache is empty only once per JVM
    val cold = withoutAqe(spark)(compiles(df.write.format("noop").mode("overwrite").save()))
    val counts = Seq(
      "shuffle exchanges" -> shuffles(df), "reused exchanges" -> count[ReusedExchangeExec](df),
      "whole-stage codegen stages" -> codegenStages(df), "windows" -> windows(df),
      "object hash aggregates" -> objectHashAggregates(df), "way kernels" -> wayKernels(df),
      "classes compiled by one cold action" -> cold,
      "timestamp literals in the optimized plan" -> timestampLiterals(df).size)
    val text = withoutAqe(spark) {
      val qe = df.queryExecution
      s"""-- snapshot(toGeometry(history)), $label
         |${counts.map { case (k, n) => s"-- $k: $n" }.mkString("\n")}
         |
         |== Optimized Logical Plan ==
         |${qe.optimizedPlan.treeString}
         |== Physical Plan ==
         |${qe.executedPlan.treeString}""".stripMargin
    }
    Files.write(dir.resolve(s"toGeometry_snapshot_$label.txt"), text.getBytes(StandardCharsets.UTF_8))
    println(s"$label: " + counts.map { case (k, n) => s"$k $n" }.mkString(", "))
    spark.stop()
  }
}

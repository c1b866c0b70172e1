package vps.osm

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.types.TimestampType

import vps.SparkTestSession

/** Plan facts of `toGeometry` and a dump of its plans.
  *
  * `Test/runMain vps.osm.OsmPlans <dir>` writes the optimized and physical
  * plans of `snapshot(toGeometry(h))` over a synthesized history to
  * `<dir>/toGeometry_snapshot_{before,after}.txt`: before is [[OsmOracle]],
  * after is [[Osm]]. Adaptive execution is off, as in the benchmark.
  */
object OsmPlans {
  /** `f(df)` planned with adaptive execution off, so the physical plan is final. */
  def withoutAqe[T](spark: SparkSession)(f: => T): T = {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  /** Shuffle exchanges plus reused exchanges of the executed plan. */
  def exchanges(df: DataFrame): Int = withoutAqe(df.sparkSession) {
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
      case r: ReusedExchangeExec  => r
    }.size
  }

  /** Timestamp literals of the optimized plan, such as the one the optimizer
    * substitutes for `current_timestamp()`.
    */
  def timestampLiterals(df: DataFrame): Seq[Literal] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case l: Literal if l.dataType == TimestampType => l
    }))

  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val dir = Paths.get(args.headOption.getOrElse("plans/pr2"))
    Files.createDirectories(dir)
    val history = OsmHistories.frame(spark, OsmHistories.synthesized(1))
    Seq("before" -> OsmOracle.toGeometry _, "after" -> Osm.toGeometry _).foreach { case (name, toGeometry) =>
      val df = Osm.snapshot(toGeometry(history))
      val n = exchanges(df)
      val text = withoutAqe(spark) {
        val qe = df.queryExecution
        s"""-- snapshot(toGeometry(history)), $name; $n exchanges (shuffle + reused) in the executed plan,
           |-- ${timestampLiterals(toGeometry(history)).size} timestamp literals in toGeometry's optimized plan
           |
           |== Optimized Logical Plan ==
           |${qe.optimizedPlan.treeString}
           |== Physical Plan ==
           |${qe.executedPlan.treeString}""".stripMargin
      }
      Files.write(dir.resolve(s"toGeometry_snapshot_$name.txt"), text.getBytes(StandardCharsets.UTF_8))
      println(s"$name: $n exchanges")
    }
    spark.stop()
  }
}

package vps.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession
import vps.osm.OsmPlans.withoutAqe
import vps.text.CollectCapped

/** Plan gate of the four LSH candidate operators. Each one keeps its
  * shuffle and reused-exchange counts, a partial `collect_capped` below the
  * bucket exchange, and one explicit respread (`REPARTITION_BY_NUM`) of the
  * capped bucket buffers on the bucket keys.
  *
  * Shuffle partitions are 8, unlike the `local[4]` default parallelism the
  * respread uses; with both at 4 the planner drops the respread as
  * redundant and the gate could not see it.
  */
class DedupPlanSpec extends AnyFunSuite {
  import DedupPlanSpec._

  private lazy val spark = SparkTestSession.spark

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)

  private def keyNames(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
    case _ => Nil
  }

  private def partialCollectCapped(p: SparkPlan): Boolean = nodes(p).exists {
    case a: ObjectHashAggregateExec => a.aggregateExpressions.exists(e =>
      e.mode == Partial && e.aggregateFunction.isInstanceOf[CollectCapped])
    case _ => false
  }

  /** (operator, bucket keys, shuffle exchanges, reused exchanges). */
  private val expected = Seq(
    ("minhashCandidates", Seq("band", "bucket"), 6, 1),
    ("winnowCandidates", Seq("fp"), 3, 0),
    ("simhashCandidates", Seq("band", "bucket"), 3, 0),
    ("embeddingNearDuplicates", Seq("band", "bucket"), 6, 1))

  test("each LSH operator keeps its exchanges, a partial collect_capped below the bucket exchange and one bucket respread") {
    withShufflePartitions(spark, 8) {
      withoutAqe(spark) {
        val plans = operators(spark).toMap
        expected.foreach { case (name, keys, shuffles, reused) =>
          val plan = plans(name).queryExecution.executedPlan
          val all = nodes(plan)
          val exchanges = all.collect { case e: ShuffleExchangeExec => e }
          assert(exchanges.size === shuffles, s"$name shuffles:\n${plan.treeString}")
          assert(all.count(_.isInstanceOf[ReusedExchangeExec]) === reused, s"$name reused:\n${plan.treeString}")
          val bucketExchanges = exchanges.filter(e => keyNames(e) == keys && e.shuffleOrigin != REPARTITION_BY_NUM)
          assert(bucketExchanges.size === 1, s"$name bucket exchange:\n${plan.treeString}")
          assert(partialCollectCapped(bucketExchanges.head.child), s"$name partial collect_capped:\n${plan.treeString}")
          val respreads = exchanges.filter(e => keyNames(e) == keys && e.shuffleOrigin == REPARTITION_BY_NUM)
          assert(respreads.size === 1, s"$name bucket respread:\n${plan.treeString}")
        }
      }
    }
  }
}

object DedupPlanSpec {
  /** Runs `f` with `spark.sql.shuffle.partitions` at `n`, restored after. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** The four LSH operators over 400 small documents and 64 `array<float>` vectors. */
  def operators(spark: SparkSession): Seq[(String, DataFrame)] = {
    val docs = spark.createDataFrame(spark.sparkContext.parallelize((0 until 400).map { i =>
      Row(i.toLong, s"document ${i % 97} shares most of its words with its near duplicates ${i % 13}")
    }, 4), StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    val vecs = spark.createDataFrame(spark.sparkContext.parallelize((0 until 64).map { i =>
      Row(i.toLong, Seq.tabulate(16)(d => ((i * 7 + d * 3) % 11 - 5).toFloat))
    }, 4), StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    Seq(
      "minhashCandidates" -> Dedup.minhashCandidates(docs, minJaccard = 0.6),
      "winnowCandidates" -> Dedup.winnowCandidates(docs, minShared = 2),
      "simhashCandidates" -> Dedup.simhashCandidates(docs),
      "embeddingNearDuplicates" -> Dedup.embeddingNearDuplicates(vecs, minCosine = 0.9))
  }
}

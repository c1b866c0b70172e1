package vps.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** IVF quality measurement (VectorSearch.recallAtK): recall@10 vs brute force
  * across nProbe, with and without Lloyd training — the numbers recorded in
  * BENCH/BASELINE.md. Usage: runMain vps.tools.RecallCheck [sfDir] [queries]
  */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQueries = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val n = vecs.count()
    val queries = vecs.orderBy(xxhash64(col("vec_id") + 7), col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("query_id"), col("embedding")).cache()
    queries.count()
    println(s"vectors=$n queries=$nQueries k=10 centroids=16")
    Seq(0, 2, 5, 10).foreach { iters =>
      val r = vps.ml.VectorSearch.recallAtK(vecs, queries, k = 10,
        numCentroids = 16, nProbes = Seq(1, 2, 4, 8, 16), trainIters = iters)
      println(s"trainIters=$iters: " +
        r.map { case (np, rec) => f"nProbe=$np recall=$rec%.3f" }.mkString("  "))
    }

    // control with real cluster structure: 16 deterministic centers + noise.
    // The sf embeddings are uniform-random (measured: true top-10 label
    // agreement 9.6% = chance), where NO coarse quantizer can concentrate
    // neighbors; this fixture shows the quantizer itself.
    import spark.implicits._
    val dim = 64
    val centers = vps.text.Hyperplanes.planes(16, 1, dim)
    val clustered = (0 until 4000).map { i =>
      val c = centers(i % 16)
      val v = Array.tabulate(dim) { d =>
        val h = vps.text.TextOps.mix64(i.toLong * 1315423911L + d)
        (c(d) + 0.15 * (((h >>> 11) * (1.0 / (1L << 53))) * 2 - 1)).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding").cache()
    val cq = clustered.where(col("vec_id") < 64)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val rc = vps.ml.VectorSearch.recallAtK(clustered, cq, k = 10,
      numCentroids = 16, nProbes = Seq(1, 2, 4), trainIters = 3)
    println("clustered(16 centers,4000 vecs): " +
      rc.map { case (np, rec) => f"nProbe=$np recall=$rec%.3f" }.mkString("  "))
    spark.stop()
  }
}

package vps.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Soak harness for the kill/resume drill (scripts/soak_resume.sh): tile a
  * replicated corpus at z8 and write the MVT tree + lineage to args(0).
  * A killed run leaves committed lineage partitions behind; the re-run must
  * skip them and complete the tree byte-identically to an uninterrupted run.
  */
object SoakTile {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val replication = args.lift(2).map(_.toInt).getOrElse(10000)
    val cpus = args.lift(3).map(_.toInt).getOrElse(16)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus * 2)
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-soak-local" else "/tmp")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = vps.docs.InterleavedDocs.fromDocuments(spark, dir, replication)
    val points = vps.docs.InterleavedDocs.extractGeoSpans(docs)
      .select((col("id") * 10 + col("span_offset")).as("id"), col("geom"))
    println("soak points=" + points.count())
    val tiles = vps.tiling.TilePipeline.tileZoom(points, 8)
    val lineage = vps.tiling.TileSink.write(tiles, outDir)
    println(s"soak done: tiles=${lineage.map(_.tiles).sum} features=${lineage.map(_.features).sum} bytes=${lineage.map(_.bytes).sum}")
    spark.stop()
  }
}

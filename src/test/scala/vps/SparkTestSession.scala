package vps

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (suites run serially; see build.sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    vps.geom.Geo.registerUDTs()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("vps-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22) // GridBurn's partial aggregation stays hash-based (see GridBurn)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

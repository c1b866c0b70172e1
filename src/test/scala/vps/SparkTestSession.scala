package vps

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (suites run serially; see build.sbt). */
object SparkTestSession {
  private var shared: SparkSession = _

  /** The shared `local[4]` session, built again if a spec stopped it. */
  def spark: SparkSession = synchronized {
    if (shared == null || shared.sparkContext.isStopped) shared = build("local[4]")
    shared
  }

  /** Runs `body` on a session with its own master, e.g. `local[4,3]` for task
    * retries. A JVM holds one SparkContext, so the shared session is stopped
    * first and built again on its next use; callers must not keep datasets of
    * the shared session across this call.
    */
  def withMaster[T](master: String)(body: SparkSession => T): T = synchronized {
    if (shared != null) { shared.stop(); shared = null }
    val s = build(master)
    try body(s) finally s.stop()
  }

  private def build(master: String): SparkSession = {
    vps.geom.Geo.registerUDTs()
    val s = SparkSession.builder()
      .master(master)
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

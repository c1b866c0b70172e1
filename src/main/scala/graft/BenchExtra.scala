package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** Optimization-round measurement harness (guide §1): isolates individual
  * declared queries under the EXACT session configuration of [[Bench]]
  * (master, shuffle partitions, AQE, timezone, local dir), times them with
  * the same best-of-N-after-warm methodology, dumps `explain("formatted")`
  * plans to `plans/r07/<query>_<tag>.txt`, and prints a per-stage wall-time
  * breakdown so exchange/stage costs are attributable.
  *
  * Usage: SPARK_GRAFT_PLAN_TAG=before sbt "runMain graft.BenchExtra q15_minhash_lsh q36_neardup_members"
  * (no args = all declared queries). Does NOT touch Bench/Verify — this is
  * the extra bench main the round rules ask for.
  */
object BenchExtra {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `f` in job group `group`, then waits until the listener has seen
    * the end of every job of the group: the listener bus is asynchronous, and
    * a stage's completion event is delivered before its job's end event.
    */
  private def inJobGroup[A](spark: SparkSession, group: String, ended: java.util.Set[Int])(f: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val a = try f finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    while (!jobs.forall(ended.contains)) Thread.sleep(10)
    a
  }

  /** The arguments that name no declared query. */
  def unknownQueries(args: Seq[String]): Seq[String] = args.filterNot(SparkEntry.queries.contains)

  def main(args: Array[String]): Unit = {
    val all = SparkEntry.queries
    // every name is checked before any query runs
    val unknown = unknownQueries(args.toSeq)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}; " +
        s"declared: ${all.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "probe")
    val runs = sys.env.getOrElse("SPARK_GRAFT_QUERY_RUNS", "3").toInt
    val planDir = new java.io.File("plans/r07")
    planDir.mkdirs()
    vps.geom.Geo.registerUDTs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-bench-local" else "/tmp")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-stage wall times, cleared between queries
    val stages = ArrayBuffer[(Int, String, Long, Int, Long, Long)]() // id, name, ms, tasks, runMs, cpuMs
    val ended = ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        val ms = (for {
          s <- info.submissionTime; c <- info.completionTime
        } yield c - s).getOrElse(-1L)
        // operator attribution: RDD scope names inside the stage (AQE stage
        // callsites are all CompletableFuture noise)
        val scopes = info.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString(" | ")
        val m = info.taskMetrics
        stages.synchronized {
          stages += ((info.stageId, scopes.take(110), ms, info.numTasks,
            m.executorRunTime, m.executorCpuTime / 1000000L))
        }
      }
    })

    val wanted = if (args.nonEmpty) args.toSeq else all.keys.toSeq.sorted

    wanted.foreach { name =>
      val fn = all(name)
      // warm JIT/codegen, finalize AQE; its stages are drained, then dropped,
      // so they do not bleed into the measured breakdown
      inJobGroup(spark, s"$name warm", ended) {
        val df = fn(spark, sfDir)
        // pre-execution formatted plan (what the judge checks claims against)
        val planTxt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val out = new java.io.PrintWriter(new java.io.File(planDir, s"${name}_$tag.txt"))
        try out.println(planTxt) finally out.close()
        df.count()
      }
      stages.synchronized(stages.clear())
      val secs = inJobGroup(spark, s"$name runs", ended) {
        (1 to runs).map { i =>
          spark.sparkContext.setJobDescription(s"$name run$i")
          time(fn(spark, sfDir).count())._2
        }
      }
      val best = secs.min
      println(f"[benchextra] $name%-24s best=$best%7.3f  runs=${secs.map(s => f"$s%.3f").mkString(",")}")
      // stage breakdown of the measured (non-warm) runs, heaviest first
      val top = stages.synchronized(stages.toVector).sortBy(-_._3).take(8)
      top.foreach { case (id, n, ms, t, run, cpu) =>
        println(f"[benchextra]   stage $id%4d $ms%6d ms  $t%4d tasks  run=$run%6d cpu=$cpu%6d  $n")
      }
    }
    spark.stop()
  }
}

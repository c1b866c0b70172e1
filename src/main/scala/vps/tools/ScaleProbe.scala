package vps.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N -> 4N thread-scaling probe. One JVM runs local[4] and local[16] legs
  * alternately, so JIT state is shared and host drift cancels within a
  * round; every leg reads the same parquet corpus from tmpfs, written once.
  * Every leg prints its stage table (wall, tasks, run / cpu / GC time,
  * shuffle write / read), so the stage that does not scale is named. One
  * unscored warm-up round, then each round prints its efficiency
  * t(local[4]) / t(local[16]) / 4; the run ends with the median efficiency.
  *
  * Usage: runMain vps.tools.ScaleProbe <tiles|pip_cell|zonal|cc|text> [size] [rounds]
  *   - tiles: tileZoom at z8; pip_cell: pipCellJoin at level 7 over 1000
  *     boxes; zonal: rasterize(z6, res 16) + zonalStats over the same boxes.
  *     size = replication of the sf0.1 geo points (default 3000).
  *   - cc: connected components of `size` 10-node chains plus one star of
  *     size / 2 leaves (default 2000000 chains, 19M edges). Each leg checks
  *     the components (count, nodes, every node's label) and prints the
  *     rounds and edges_per_sec.
  *   - text: winnow fingerprints, vocab top-k and domain cap over the sf0.1
  *     documents replicated `size` times (default 100).
  * Only a run on an otherwise idle host is evidence: concurrent work on the
  * machine distorts a leg by more than 2x.
  */
object ScaleProbe {
  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.1"
  private val tmp = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"

  /** A workload: default size, its corpus name and writer, and a set-up over
    * the persisted corpus that returns the timed body.
    */
  private final case class Workload(
      defaultSize: Int,
      corpus: Int => String,
      write: (SparkSession, Int) => DataFrame,
      prepare: (SparkSession, DataFrame, Int) => () => Unit)

  private def geoPoints(s: SparkSession, rep: Int): DataFrame =
    vps.docs.InterleavedDocs.extractGeoSpans(vps.docs.InterleavedDocs.fromDocuments(s, sfDir, rep))
      .select((col("id") * 10 + col("span_offset")).as("id"), col("geom"))

  /** The 1000 bench boxes (15 x 12 degrees), persisted. */
  private def boxes(s: SparkSession): DataFrame = {
    val b = s.range(0, 1000).toDF("poly_id")
      .select(col("poly_id"),
        ((col("poly_id") * 97 % 340) - 170.0).as("lon0"),
        ((col("poly_id") * 61 % 150) - 75.0).as("lat0"))
      .select(col("poly_id"), vps.sql.functions.st_geomFromWKT(format_string(
        "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
        col("lon0"), col("lat0"), col("lon0") + 15.0, col("lat0"),
        col("lon0") + 15.0, col("lat0") + 12.0, col("lon0"), col("lat0") + 12.0,
        col("lon0"), col("lat0"))).as("geom"))
      .persist()
    b.count()
    b
  }

  private val pointCorpus = (rep: Int) => s"vps_alt_corpus_$rep"

  private val workloads: Map[String, Workload] = Map(
    "tiles" -> Workload(3000, pointCorpus, geoPoints, (_, pts, _) => () =>
      vps.tiling.TilePipeline.tileZoom(pts, 8).toDF().agg(count(lit(1))).head()),
    "pip_cell" -> Workload(3000, pointCorpus, geoPoints, (s, pts, _) => {
      val polys = boxes(s)
      () => vps.joins.SpatialJoins.pipCellJoin(pts, polys, level = 7).count()
    }),
    "zonal" -> Workload(3000, pointCorpus, geoPoints, (s, pts, _) => {
      val zones = boxes(s).select(col("poly_id").as("zone_id"), col("geom"))
      () => vps.raster.Raster.zonalStats(
        vps.raster.Raster.rasterize(pts, zoom = 6, resolution = 16), zones).count()
    }),
    "cc" -> Workload(2000000, n => s"vps_cc_edges_${n}_${n / 2}", (s, n) => {
      // 10-node chains (O(log n) transitive rounds) plus one mega-star
      val chains = s.range(0, n.toLong * 9, 1, 16).toDF("i")
        .select(expr("(i DIV 9) * 16 + (i % 9)").as("id_a"), expr("(i DIV 9) * 16 + (i % 9) + 1").as("id_b"))
      val hub = n.toLong * 16 + 16
      chains.unionAll(s.range(0, n / 2, 1, 16).toDF("i")
        .select((col("i") * 2 + hub + 1).as("id_a"), lit(hub).as("id_b")))
    }, (_, edges, n) => () => {
      // checked relationally, no driver-side graph walk: every node carries
      // its chain's minimum id (c * 16) or the star's hub
      val t0 = System.nanoTime()
      val hub = n.toLong * 16 + 16
      val (members, rounds) = vps.ml.Components.connectedComponentsWithStats(edges)
      val stats = members.agg(count(lit(1)), countDistinct(col("component")),
        sum(when(col("component") === col("id") - col("id") % 16 || col("component") === hub, 1L)
          .otherwise(0L))).head()
      val sec = (System.nanoTime() - t0) / 1e9
      val (nodes, comps, correct) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      require(comps == n + 1L, s"components: $comps != ${n + 1}")
      require(nodes == n.toLong * 10 + n / 2 + 1, s"nodes: $nodes")
      require(correct == nodes, s"mislabeled nodes: ${nodes - correct}")
      val edgeCount = n * 9L + n / 2
      println(f"   cc rounds=$rounds edges=$edgeCount edges_per_sec=${edgeCount / sec}%.0f")
    }),
    "text" -> Workload(100, rep => s"vps_text_corpus_$rep", (s, rep) =>
      s.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"), explode(sequence(lit(0), lit(rep - 1))).as("r"))
        .select((col("doc_id") * rep + col("r")).as("id"), col("text"), col("source"))
        .repartition(64), (_, docs, _) => () => {
      import vps.text.{functions => tf}
      docs.select(tf.winnow_fingerprints(col("text"), 8, 4).as("fps"))
        .select(aggregate(col("fps"), lit(0L), (a, x) => a.bitwiseXOR(x))
          .bitwiseAND(lit(0xffffffffL)).as("x"), // ANSI sum over raw xors overflows
          size(col("fps")).as("n"))
        .agg(sum(col("x")), sum(col("n"))).head()
      vps.text.Vocab.topK(vps.text.Vocab.termStatsFused(docs, "text"), 100).collect()
      vps.text.UrlOps.domainCap(docs.select(col("id"), col("source").as("domain")),
        "domain", "id", cap = 1000, salt = 7L).count()
    }))

  private final case class StageRow(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, writeMB: Double, readMB: Double)

  /** Collects completed stages and ended job ids. */
  private final class StageLog extends SparkListener {
    val stages = new ConcurrentLinkedQueue[StageRow]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
      stages.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(60), si.numTasks, wall,
        tm.executorRunTime, tm.executorCpuTime / 1000000, tm.jvmGCTime,
        tm.shuffleWriteMetrics.bytesWritten / 1e6, tm.shuffleReadMetrics.totalBytesRead / 1e6))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
  }

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus * 2)
      .config("spark.local.dir", s"$tmp/spark-alt-local")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22) // as graft.Bench: GridBurn's partial aggregation stays hash-based
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    vps.geom.Geo.registerUDTs()
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** One leg: a fresh local[cpus] session times one run of `w` over the
    * persisted corpus and prints the run's stage table.
    */
  private def leg(w: Workload, corpus: String, size: Int, cpus: Int, label: String): Double = {
    val s = session(cpus)
    val input = s.read.parquet(corpus).persist()
    input.count()
    val body = w.prepare(s, input, size)
    val log = new StageLog
    s.sparkContext.addSparkListener(log)
    s.sparkContext.setJobGroup("scale-probe", "scale-probe")
    val t0 = System.nanoTime()
    body()
    val sec = (System.nanoTime() - t0) / 1e9
    s.sparkContext.clearJobGroup()
    // the listener bus is asynchronous: wait for the end of every measured job
    val jobs = s.sparkContext.statusTracker.getJobIdsForGroup("scale-probe")
    while (!jobs.forall(log.ended.contains)) Thread.sleep(10)
    println(f"== $label local[$cpus] $sec%.2f s")
    log.stages.toArray(Array.empty[StageRow]).sortBy(_.id).foreach { r =>
      println(f"   stage ${r.id}%4d tasks=${r.tasks}%3d wall=${r.wallMs}%6d ms run=${r.runMs}%7d " +
        f"cpu=${r.cpuMs}%7d gc=${r.gcMs}%5d sw=${r.writeMB}%8.1f MB sr=${r.readMB}%8.1f MB  ${r.name}")
    }
    stop(s)
    sec
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    val w = workloads.getOrElse(name, throw new IllegalArgumentException(
      s"usage: ScaleProbe <${workloads.keys.toSeq.sorted.mkString("|")}> [size] [rounds]"))
    val size = args.lift(1).map(_.toInt).getOrElse(w.defaultSize)
    val rounds = args.lift(2).map(_.toInt).getOrElse(3)
    val corpus = s"$tmp/${w.corpus(size)}"
    if (!new java.io.File(s"$corpus/_SUCCESS").exists) {
      val s = session(16)
      w.write(s, size).write.mode("overwrite").parquet(corpus)
      stop(s)
    }

    leg(w, corpus, size, 4, "warm-up"); leg(w, corpus, size, 16, "warm-up") // not scored
    val pairs = (1 to rounds).map { r =>
      val lo = leg(w, corpus, size, 4, s"round $r")
      val hi = leg(w, corpus, size, 16, s"round $r")
      println(f"round $r: local[4]=$lo%.2f s local[16]=$hi%.2f s efficiency=${lo / hi / 4}%.2f")
      (lo, hi)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    println(f"$name size=$size rounds=$rounds: local[4] median=${median(pairs.map(_._1))}%.2f s " +
      f"local[16] median=${median(pairs.map(_._2))}%.2f s " +
      f"efficiency median=${median(pairs.map(p => p._1 / p._2 / 4))}%.2f")
  }
}

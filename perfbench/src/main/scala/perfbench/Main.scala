package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The repository's benchmark: one closed-loop client drives one named
  * workload through the engine's public API for `--seconds`, checks every
  * operation's output, and prints one JSON result line on stdout.
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` alternates
  * traced and untraced operations and reports per-layer metrics, writing
  * spans and the derived metrics to `--trace-file`.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10, trace: Boolean = false,
      runDir: String = "", traceFile: String = "")

  def parse(args: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(a.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(a.copy(trace = v == "1"), t)
      case "--run-dir" :: v :: t => go(a.copy(runDir = v), t)
      case "--trace-file" :: v :: t => go(a.copy(traceFile = v), t)
      case Nil => a
      case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
    }
    val a = go(Args(), args.toList)
    require(Workload.names.contains(a.workload), s"--workload must be one of ${Workload.names.mkString(", ")}")
    require(a.runDir.nonEmpty, "--run-dir is required")
    a
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case NonFatal(e) => e.printStackTrace(); 2
    }
    System.exit(code)
  }

  def session(cpus: Int, runDir: File, appName: String): SparkSession = {
    vps.geom.Geo.registerUDTs()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus * 2)
      // adaptive execution off: it re-plans and re-renders the very large
      // toGeometry plan at every stage, which alone put an osm_tiles run
      // over its time budget
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", 100000)
      // keep Spark's status store small: retained query executions (with
      // their plan descriptions) otherwise make the live heap drift
      .config("spark.sql.ui.retainedExecutions", 2)
      .config("spark.ui.retainedJobs", 10)
      .config("spark.ui.retainedStages", 10)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Highest percentile with at least ten samples beyond it, never below
    * the median: (value, percentile, samples).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n < 20) (median(xs), 50.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def run(a: Args): Int = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val runDir = new File(a.runDir).getAbsoluteFile
    runDir.mkdirs()
    val store = Files.getFileStore(runDir.toPath)
    log(s"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${a.trace} local[$cpus]; " +
      s"scratch $runDir on filesystem ${store.name()} (${store.`type`()}), ${store.getUsableSpace / 1000000000L} GB free")
    val spark = session(cpus, runDir, s"perfbench-${a.workload}")
    try {
      val sc = spark.sparkContext
      val tracer = new Tracer(sc)
      val listener = if (a.trace) Some(new TraceListener) else None
      listener.foreach(sc.addSparkListener)
      val heap = new HeapProbe
      val wl = Workload(a.workload, Ctx(spark, cpus, a.seed, 1.0, runDir, tracer, heap))

      // set-up = the median of three generate-and-load passes plus the
      // workload's fixed number of checked warm-up operations (JIT, codegen
      // and first-call costs)
      val setups = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      (1 to wl.warmUpOps).foreach { k =>
        val warm = wl.op(-k, traced = false)
        if (warm.problems.nonEmpty) throw new IllegalStateException(s"warm-up operation failed: ${warm.problems.mkString("; ")}")
      }
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = median(setups) + warmS
      log(f"set-up passes ${setups.map(s => f"$s%.3f").mkString(", ")} s, ${wl.warmUpOps} warm-up operations $warmS%.3f s")

      final case class Done(i: Int, traced: Boolean, root: Option[Span], outcome: Option[OpOutcome])
      val done = mutable.ArrayBuffer.empty[Done]
      // live-heap samples cost collections, so only the untraced run, which
      // reports peak_heap_mb, takes them
      heap.enabled = !a.trace
      val loop0 = System.nanoTime()
      var i = 0
      // a traced run needs at least one traced and one untraced operation
      val minOps = if (a.trace) 2 else 1
      while (i < minOps || System.nanoTime() - loop0 < a.seconds * 1e9) {
        val traced = a.trace && i % 2 == 1
        tracer.enabled = traced
        val before = tracer.spans.size
        val outcome =
          try Some(tracer.span("operation", trace = i)(wl.op(i, traced)))
          catch { case NonFatal(e) => log(s"operation $i failed: $e"); None }
        tracer.enabled = false
        val root = if (traced) tracer.spans.lift(before) else None
        done += Done(i, traced, root, outcome)
        outcome.foreach(o => log(f"operation $i${if (traced) " (traced)" else ""}: ${o.wallS}%.3f s"))
        outcome.filter(_.problems.nonEmpty).foreach(o => log(s"operation $i wrong output: ${o.problems.mkString("; ")}"))
        i += 1
      }
      heap.sample()
      heap.enabled = false

      val attempted = done.size
      val good = done.filter(_.outcome.exists(_.problems.isEmpty))
      val failed = attempted - good.size
      val walls = good.map(_.outcome.get.wallS)
      val counters = (k: String) => median(good.flatMap(_.outcome.get.counters.get(k)).toSeq)

      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) {
          val (t, p, n) = tail(walls.toSeq)
          log(f"operations=$attempted failed=$failed error_rate=${failed.toDouble / attempted}%.4f " +
            f"op_p50_s=${median(walls.toSeq)}%.4f op_tail_s=$t%.4f (p$p%.1f of $n)")
          a.workload match {
            case "osm_tiles" => log(f"tile_bytes=${counters("tile_bytes")}%.0f max_tile_bytes=${counters("max_tile_bytes")}%.0f " +
              f"refresh_s=${counters("streaming.refresh_s")}%.4f dirty_tiles=${counters("streaming.dirty_tiles")}%.0f")
            case _ => log(f"pip_broadcast_pts_per_s=${counters("joins.broadcast_pts_per_s")}%.0f " +
              f"pip_cell_pts_per_s=${counters("joins.cell_pts_per_s")}%.0f")
          }
          Seq(("op_p50_s", median(walls.toSeq), "s"), ("peak_heap_mb", heap.peakMb, "MB"), ("setup_s", setupS, "s"))
        } else {
          val l = listener.get
          l.drain(sc)
          val layers = new LayerMetrics(tracer, l)
          val tracedOps = good.filter(_.traced)
          val perOp = tracedOps.map(d => layers.forOp(d.root.get, d.outcome.get))
          val untracedWall = median(good.filterNot(_.traced).map(_.outcome.get.wallS).toSeq)
          val tracedWall = median(tracedOps.map(_.outcome.get.wallS).toSeq)
          val (sample, zoom) = wl.kernelSample(300)
          val kernels = Kernels.measure(sample, zoom)
          val all = LayerMetrics.names.map { case (name, unit) =>
            val v = name match {
              case "trace.overhead_s" => tracedWall - untracedWall
              case k if kernels.contains(k) => kernels(k)
              case k => median(perOp.flatMap(_.get(k)).toSeq)
            }
            (name, v, unit)
          }
          log(f"traced ops=${tracedOps.size} untraced ops=${good.size - tracedOps.size} " +
            f"traced p50=$tracedWall%.4f s untraced p50=$untracedWall%.4f s overhead=${tracedWall - untracedWall}%.4f s")
          if (a.traceFile.nonEmpty) {
            val f = new File(a.traceFile)
            Option(f.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
            val w = new PrintWriter(f, "UTF-8")
            try w.write(layers.json(a.workload, a.seed, cpus, s"${store.name()} (${store.`type`()})",
              done.map(d => (d.i, d.traced, d.outcome.map(_.wallS).getOrElse(Double.NaN))).toSeq,
              tracedOps.map(_.i).zip(perOp).toSeq, all))
            finally w.close()
            log(s"trace written to ${f.getPath}")
          }
          all
        }

      val correct = failed == 0
      val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
      wl.teardown()
      if (correct) 0 else 1
    } finally {
      spark.stop()
      Checks.deleteTree(runDir)
    }
  }
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** The largest live heap seen at sample points: workloads sample at layer
  * boundaries inside an operation, where a layer's output (cached tiles or
  * join pairs, broadcast inputs) is still held, outside the operation's
  * timed work; the loop samples once more at its end.
  */
final class HeapProbe {
  var enabled = false
  var peakMb = 0.0

  def sample(): Unit = if (enabled) peakMb = math.max(peakMb, HeapProbe.liveMb())
}

object HeapProbe {
  /** Live heap after a full GC. Spark's context cleaner frees broadcast and
    * checkpoint blocks only once a GC has found them unreachable, so collect,
    * give the cleaner a moment, and collect again.
    */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

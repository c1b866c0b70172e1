package vps.osm

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.reflect.ClassTag

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.execution.{AppendColumnsExec, CoGroupExec, DeserializeToObjectExec, FilterExec,
  MapGroupsExec, SerializeFromObjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{ObjectType, TimestampType}

import vps.SparkTestSession
import vps.sql.SortedGroupsExec
import vps.sql.functions.st_asText
import vps.streaming.DirtyTiles
import vps.tiling.{TilePipeline, TileSink}

/** Plan facts of `toGeometry`, a dump of its plans, and the classes one
  * `osm_tiles`-shaped operation compiles per library step.
  *
  * `Test/runMain vps.osm.OsmPlans <dir> <label>` writes the optimized and
  * physical plans of `snapshot(toGeometry(h))` over a synthesized history to
  * `<dir>/toGeometry_snapshot_<label>.txt`, headed by the plan counts below
  * and by the number of classes one cold action of it compiles. It then runs
  * one operation (`toGeometry` + `snapshot`, checkpointed; `pyramidRekey`
  * z12-13 into a tile sink; `refreshTiles` z13 into the same tree) cold and
  * then warm in the same JVM, and writes the classes compiled and their
  * summed compile time per step to `<dir>/steps_<label>.txt`, followed by
  * one line per class each step added to the generated-code cache (a hash
  * of its source and what it came from), so a recompile names its plan. Run it with
  * label `after` here and with label `before` on a checkout of the other
  * commit, with this file copied in. Adaptive execution is off, as in the
  * benchmark.
  */
object OsmPlans {
  /** `f(df)` planned with adaptive execution off, so the physical plan is final. */
  def withoutAqe[T](spark: SparkSession)(f: => T): T = {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  def executed(df: DataFrame): SparkPlan = withoutAqe(df.sparkSession)(df.queryExecution.executedPlan)

  private def count[T: ClassTag](df: DataFrame): Int = executed(df).collect { case n: T => n }.size

  /** Shuffle exchanges plus reused exchanges of the executed plan. */
  def exchanges(df: DataFrame): Int = shuffles(df) + count[ReusedExchangeExec](df)

  def shuffles(df: DataFrame): Int = count[ShuffleExchangeExec](df)
  def codegenStages(df: DataFrame): Int = count[WholeStageCodegenExec](df)
  def windows(df: DataFrame): Int = count[WindowExec](df)
  def objectHashAggregates(df: DataFrame): Int = count[ObjectHashAggregateExec](df)

  /** Keyed passes over way versions: kernel nodes that run the way pass. */
  def wayKernels(df: DataFrame): Int = executed(df).collect {
    case n: SortedGroupsExec if n.kernel.isInstanceOf[OsmPasses.WayPass] => n
  }.size

  /** Timestamp literals of the optimized plan, such as the one the optimizer
    * substitutes for `current_timestamp()`.
    */
  def timestampLiterals(df: DataFrame): Seq[Literal] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case l: Literal if l.dataType == TimestampType => l
    }))

  /** Classes Spark's code generator compiles while `action` runs. */
  def compiles(action: => Unit): Long = compiled(action).classes

  /** Classes compiled, their summed compile time in milliseconds, and one
    * line per class that entered the generated-code cache ([[describe]]).
    */
  final case class Compiled(classes: Long, millis: Long, names: Seq[String] = Nil)

  /** What Spark's code generator compiles while `action` runs. The time sums
    * the compile-time histogram, whole milliseconds per class; its reservoir
    * holds every sample while the JVM has compiled fewer than 1028 classes.
    * The names are the cache entries that are new after `action`, so a class
    * compiled and evicted again within `action` is counted but not named.
    */
  def compiled(action: => Unit): Compiled = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val (n, t) = (h.getCount, h.getSnapshot.getValues.sum)
    val before = cacheEntries().keySet
    action
    val added = cacheEntries().filter { case (k, _) => !before.contains(k) }
    Compiled(h.getCount - n, h.getSnapshot.getValues.sum - t, added.values.toSeq.sorted)
  }

  /** Spark's generated-code cache, keyed by class loader and source. */
  private def codegenCache(): AnyRef = {
    val method = CodeGenerator.getClass.getDeclaredMethod("cache")
    method.setAccessible(true)
    method.invoke(CodeGenerator)
  }

  /** The cache's entries: (class loader identity, source hash) -> [[describe]]
    * line. The cache keys a class by loader and source, so one whole-stage
    * codegen stage is two entries when the driver and the tasks load it
    * through different class loaders.
    */
  def cacheEntries(): Map[(Int, String), String] = {
    val guava = codegenCache().getClass.getMethod("cache").invoke(codegenCache())
    val map = Class.forName("org.sparkproject.guava.cache.Cache").getMethod("asMap").invoke(guava)
      .asInstanceOf[java.util.Map[AnyRef, AnyRef]]
    val driver = Thread.currentThread.getContextClassLoader
    map.keySet.toArray.toSeq.map { key =>
      val (ref, code) = key.asInstanceOf[(java.lang.ref.Reference[ClassLoader], CodeAndComment)]
      val loader = ref.get
      val hash = sourceHash(code.body)
      val side = if (loader eq driver) "driver" else "task  "
      (System.identityHashCode(loader), hash) -> s"$hash $side ${describe(code.body)}"
    }.toMap
  }

  private def sourceHash(body: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(body.getBytes(StandardCharsets.UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  /** Variable prefixes of the operators whole-stage codegen fuses, as they
    * appear in the generated source.
    */
  private val OperatorPrefixes = Seq("scan", "rdd", "localtablescan", "columnartorow", "inputadapter", "range",
    "filter", "project", "generate", "expand", "hashAgg", "sortAgg", "sort", "bhj", "smj", "shj", "bnlj",
    "serializefromobject", "deserializetoobject", "mapelements", "sample")

  /** What a generated class came from, read off its source: the generated
    * class (a whole-stage codegen stage with the operators it fuses, or a
    * projection, predicate, ordering or column accessor), the engine kernels
    * it calls and the interpreted expressions it falls back to.
    */
  def describe(body: String): String = {
    val cls = """class (\w+)""".r.findAllMatchIn(body).map(_.group(1))
      .find(c => c != "GeneratedClass").getOrElse("?")
    val what =
      if (cls.startsWith("GeneratedIteratorForCodegenStage")) {
        // a limit's counter is named `_limit_counter_<n>`, n new in every plan
        val ops = OperatorPrefixes.filter(p => s"\\b${p}_".r.findFirstIn(body).nonEmpty) ++
          (if (body.contains("_limit_counter_")) Seq("limit") else Nil)
        s"WholeStageCodegen stage ${cls.stripPrefix("GeneratedIteratorForCodegenStage")} (${ops.mkString(", ")})"
      } else cls
    val kernels = """(vps\.[\w.$]+?)\$?(?:\.MODULE\$)?\)? ?(?:references\[\d+\] /\* \w+ \*/\))?\.(\w+)\(""".r
      .findAllMatchIn(body).map(m => s"${m.group(1).split('.').last}.${m.group(2)}").toSeq.distinct
    val fallbacks = """\(\(Expression\) references\[\d+\]""".r.findAllMatchIn(body).size
    val size = s"${body.length} chars"
    (Seq(what) ++ Seq(kernels.mkString(" "), if (fallbacks > 0) s"$fallbacks interpreted" else "", size)
      .filter(_.nonEmpty)).mkString(" | ")
  }

  /** Empties Spark's generated-code cache, so the next action compiles every
    * class it needs, as the first action of a JVM does.
    */
  def emptyCodegenCache(): Unit = {
    val cache = codegenCache()
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  /** [[compiled]] from an empty generated-code cache. */
  def cold(action: => Unit): Compiled = { emptyCodegenCache(); compiled(action) }

  /** The object-conversion operators of a physical plan (through adaptive
    * wrappers, query stages and cached relations): typed cogroups, groups and
    * filters, and the (de)serializers around them.
    */
  def objectOperators(plan: SparkPlan): Seq[String] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case other => other.children.flatMap(nodes)
    })
    def scalaFunction(e: Expression) = e.exists {
      case i: Invoke => i.targetObject.dataType match {
        case ObjectType(c) => classOf[Function1[_, _]].isAssignableFrom(c)
        case _ => false
      }
      case _ => false
    }
    nodes(plan).collect {
      case n @ (_: CoGroupExec | _: DeserializeToObjectExec | _: SerializeFromObjectExec | _: AppendColumnsExec |
          _: MapGroupsExec) => n.nodeName
      case f: FilterExec if scalaFunction(f.condition) => s"${f.nodeName} ${f.condition}"
    }
  }

  /** One `osm_tiles`-shaped operation over `history`, the tiles written under
    * `dir`: what each library step compiles.
    */
  def operation(history: DataFrame, dir: String): Seq[(String, Compiled)] = {
    import org.apache.spark.sql.functions._
    var snapshot: DataFrame = null
    val geometry = "toGeometry + snapshot" -> compiled {
      snapshot = Osm.snapshot(Osm.toGeometry(history))
        .select(col("_type"), col("id"), col("visible"), col("geom"),
          when(col("_type") === Osm.NodeType, "poi").otherwise("shape").as("kind"))
        .localCheckpoint()
    }
    val input = snapshot.where(col("visible") && col("geom").isNotNull)
      .select((col("_type").cast("long") * 1000000000L + col("id")).as("id"), col("kind"), col("geom"))
    val opts = TilePipeline.Options(layerColumn = Some("kind"))
    val pyramid = "pyramidRekey z12-13 + sink" -> compiled {
      TilePipeline.pyramidRekey(input, 12, 13, opts)((_, tiles) => TileSink.write(tiles, dir))
    }
    val diffs = input.orderBy(col("id")).limit(40)
      .select(col("id"), st_asText(col("geom")).as("geom_wkt"), lit(null).cast("string").as("prev_geom_wkt"))
    val refresh = "refreshTiles z13 + sink" -> compiled {
      TileSink.write(DirtyTiles.refreshTiles(input, diffs, 13, opts), dir)
    }
    snapshot.unpersist()
    Seq(geometry, pyramid, refresh)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val dir = Paths.get(args(0))
    val label = args.lift(1).getOrElse("after")
    Files.createDirectories(dir)
    val history = OsmHistories.frame(spark, OsmHistories.synthesized(1))
    val df = Osm.snapshot(Osm.toGeometry(history))
    val coldAction = withoutAqe(spark)(cold(df.write.format("noop").mode("overwrite").save()))
    val counts = Seq(
      "shuffle exchanges" -> shuffles(df), "reused exchanges" -> count[ReusedExchangeExec](df),
      "whole-stage codegen stages" -> codegenStages(df), "windows" -> windows(df),
      "object hash aggregates" -> objectHashAggregates(df), "way kernels" -> wayKernels(df),
      "object operators" -> objectOperators(executed(df)).size,
      "classes compiled by one cold action" -> coldAction.classes,
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

    val tiles = Files.createTempDirectory("osm-plans-tiles")
    val rounds = try withoutAqe(spark) {
      emptyCodegenCache()
      val coldRun = operation(history, tiles.toString)
      Seq("cold" -> coldRun, "warm" -> operation(history, tiles.toString))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tiles.toFile)
    val table = rounds.flatMap { case (round, steps) =>
      (steps :+ ("operation" -> Compiled(steps.map(_._2.classes).sum, steps.map(_._2.millis).sum))).map {
        case (step, c) => f"| $round%-4s | $step%-28s | ${c.classes}%7d | ${c.millis}%10d |"
      }
    }
    val steps = (s"-- classes compiled per library step of one osm_tiles-shaped operation, $label" +:
      "| run  | step                         | classes | compile ms |" +:
      "|------|------------------------------|---------|------------|" +: table).mkString("\n")
    val names = rounds.flatMap { case (round, steps) =>
      steps.flatMap { case (step, c) => s"-- $round: $step" +: c.names.map("   " + _) }
    }
    val record = (Seq(steps, "",
      "-- classes that entered the generated-code cache, per step: source hash, class loader, origin") ++
      names).mkString("\n")
    Files.write(dir.resolve(s"steps_$label.txt"), (record + "\n").getBytes(StandardCharsets.UTF_8))
    println(record)
    spark.stop()
  }
}

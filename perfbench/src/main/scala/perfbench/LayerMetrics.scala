package perfbench

/** Per-layer metrics of one traced operation, derived from its span tree,
  * the Spark stages attached to those spans and the operation's counters.
  * Spans named `bench.*` are the benchmark's own untimed work (output
  * checks, input preparation); their jobs and stages are left out.
  */
final class LayerMetrics(tracer: Tracer, listener: TraceListener) {
  private val stagesBySpan = listener.synchronized(listener.stages.values.toSeq).groupBy(_.span)
  private val jobsBySpan = listener.synchronized(listener.jobs.values.toSeq).groupBy(_.span)

  def forOp(root: Span, o: OpOutcome): Map[String, Double] = {
    val tree = tracer.opTree(root)
    val byId = tree.map(s => s.id -> s).toMap
    val timed = tree.filter(_.layer != "bench")
    def top(layer: String) = tree.filter(s => s.layer == layer && byId.get(s.parent).forall(_.layer != layer))
    def wall(layer: String) = top(layer).map(_.dur).sum
    def named(name: String) = tree.filter(_.name == name).map(_.dur).sum
    def self(layer: String) = tree.filter(_.layer == layer).map(tracer.self).sum
    def stagesIn(spans: Seq[Span]) = spans.flatMap(s => stagesBySpan.getOrElse(s.id, Nil))
    def stagesOf(layer: String) = stagesIn(tree.filter(_.layer == layer))
    val opStages = stagesIn(timed)
    val c = (k: String) => o.counters.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val mb = 1e6

    // stage critical path: time during which at least one stage was running
    val intervals = opStages.filter(_.completed > 0).map(s => (s.submitted.toDouble, s.completed.toDouble)).sortBy(_._1)
    var covered = 0.0; var end = Double.NegativeInfinity
    intervals.foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    val benchTime = top("bench").map(_.dur).sum
    val tilingStages = stagesOf("tiling")
    val encodeTasks = tilingStages.filter(_.shuffleRead > 0).flatMap(_.durations).map(_.toDouble)
    val scanned = c("streaming.snapshot_rows_scanned")
    val candidates = c("joins.cell_candidates")

    Map(
      "osm.reconstruct_s" -> wall("osm"),
      "osm.shuffle_write_mb" -> stagesOf("osm").map(_.shuffleWrite).sum / mb,
      "osm.stages" -> stagesOf("osm").size.toDouble,
      "osm.geoms_out" -> c("osm.geoms_out"),
      "tiling.render_s" -> self("tiling"),
      "tiling.key_pairs" -> c("tiling.key_pairs"),
      "tiling.fragments" -> c("tiling.fragments"),
      "tiling.clip_yield" -> ratio(c("tiling.fragments"), c("tiling.key_pairs")),
      "tiling.exchange_mb" -> tilingStages.map(_.shuffleWrite).sum / mb,
      "tiling.encode_skew" -> ratio(if (encodeTasks.isEmpty) 0.0 else encodeTasks.max, Main.median(encodeTasks)),
      "tiling.cpu_s" -> tilingStages.map(_.cpuNs).sum / 1e9,
      "tiling.gc_s" -> tilingStages.map(_.gcMs).sum / 1e3,
      "kernels.clip_failures" -> c("kernels.clip_failures"),
      "mvt.bytes_per_feature" -> ratio(c("tile_bytes"), c("tile_features")),
      "mvt.empty_fragments" -> c("mvt.empty_fragments"),
      "mvt.tile_bytes" -> c("tile_bytes"),
      "mvt.max_tile_bytes" -> c("max_tile_bytes"),
      "sink.write_s" -> wall("sink"),
      "sink.files" -> c("sink.files"),
      "sink.us_per_file" -> ratio(wall("sink") * 1e6, c("sink.files")),
      "sink.bytes_mb" -> c("sink.bytes") / mb,
      "sink.partitions_written" -> c("sink.partitions_written"),
      "sink.partitions_skipped" -> c("sink.partitions_skipped"),
      "joins.broadcast_s" -> c("joins.broadcast_s"),
      "joins.cell_s" -> c("joins.cell_s"),
      "joins.cell_candidates" -> candidates,
      "joins.hits" -> c("joins.hits"),
      "joins.refine_yield" -> ratio(c("joins.hits"), candidates),
      "joins.shuffle_write_mb" -> stagesOf("joins").map(_.shuffleWrite).sum / mb,
      "joins.broadcast_pts_per_s" -> c("joins.broadcast_pts_per_s"),
      "joins.cell_pts_per_s" -> c("joins.cell_pts_per_s"),
      "streaming.dirty_tiles" -> c("streaming.dirty_tiles"),
      "streaming.refresh_s" -> c("streaming.refresh_s"),
      "streaming.dirty_keys_s" -> named("streaming.refreshTiles"),
      "streaming.render_s" -> named("streaming.render"),
      "streaming.snapshot_rows_scanned" -> scanned,
      "streaming.scan_per_tile" -> ratio(scanned, c("streaming.dirty_tiles")),
      "spark.jobs" -> timed.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum.toDouble,
      "spark.stages" -> opStages.size.toDouble,
      "spark.tasks" -> opStages.map(_.tasks).sum.toDouble,
      "spark.orchestration_s" -> (root.dur - benchTime - covered / 1e3),
      "spark.scheduler_delay_s" -> opStages.map(_.schedDelayMs).sum / 1e3,
      "spark.shuffle_write_mb" -> opStages.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_fetch_wait_s" -> opStages.map(_.fetchWaitMs).sum / 1e3,
      "spark.spill_mb" -> opStages.map(_.spillBytes).sum / mb,
      "spark.gc_s" -> opStages.map(_.gcMs).sum / 1e3,
      "spark.task_failures" -> opStages.map(_.failures).sum.toDouble,
      "trace.unattributed_s" -> tracer.self(root))
  }

  /** Spans (operation, layer call, job, stage), the per-operation metrics
    * and the run's per-layer metrics as one JSON document.
    */
  def json(workload: String, seed: Long, cpus: Int, filesystem: String,
      ops: Seq[(Int, Boolean, Double)], perOp: Seq[(Int, Map[String, Double])],
      metrics: Seq[(String, Double, String)]): String = {
    import Json.{num, str}
    val sb = new StringBuilder
    sb ++= s"""{"workload": ${str(workload)}, "seed": $seed, "cpus": $cpus, "filesystem": ${str(filesystem)},\n"""
    sb ++= """"operations": [""" + ops.map { case (i, t, w) =>
      s"""{"op": $i, "traced": $t, "wall_s": ${num(w)}}""" }.mkString(", ") + "],\n"
    sb ++= """"spans": [""" + "\n"
    val stages = listener.synchronized(listener.stages.values.toSeq)
    val stageSpan = stages.map(s => s.stageId -> s).toMap
    val rows = tracer.spans.map { s =>
      s"""{"kind": "span", "id": ${s.id}, "parent": ${s.parent}, "trace": ${s.trace}, "name": ${str(s.name)}, "start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}}"""
    } ++ listener.synchronized(listener.jobs.values.toSeq).filter(_.span >= 0).map { j =>
      s"""{"kind": "job", "id": ${j.jobId}, "parent_span": ${j.span}, "group": ${str(String.valueOf(j.group))}, "start_ms": ${j.submitted}, "end_ms": ${j.completed}, "stages": [${j.stageIds.filter(stageSpan.contains).mkString(", ")}]}"""
    } ++ stages.filter(_.span >= 0).map { s =>
      s"""{"kind": "stage", "id": ${s.stageId}, "attempt": ${s.attempt}, "parent_span": ${s.span}, "name": ${str(s.name)}, "start_ms": ${s.submitted}, "end_ms": ${s.completed}, "tasks": ${s.tasks}, "failed_tasks": ${s.failures}, "run_ms": ${s.runMs}, "cpu_ms": ${num(s.cpuNs / 1e6)}, "gc_ms": ${s.gcMs}, "shuffle_write_bytes": ${s.shuffleWrite}, "shuffle_read_bytes": ${s.shuffleRead}, "fetch_wait_ms": ${s.fetchWaitMs}, "spill_bytes": ${s.spillBytes}, "scheduler_delay_ms": ${s.schedDelayMs}}"""
    }
    sb ++= rows.mkString(",\n") + "],\n"
    sb ++= """"per_operation": [""" + perOp.map { case (i, m) =>
      s"""{"op": $i, "metrics": {""" + m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ") + "}}"
    }.mkString(",\n") + "],\n"
    sb ++= """"metrics": {""" + metrics.map { case (k, v, u) => s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }.mkString(", ") + "}}\n"
    sb.toString
  }
}

object LayerMetrics {
  /** Every per-layer metric, in output order, with its unit. */
  val names: Seq[(String, String)] = Seq(
    "osm.reconstruct_s" -> "s", "osm.shuffle_write_mb" -> "MB", "osm.stages" -> "count", "osm.geoms_out" -> "count",
    "tiling.render_s" -> "s", "tiling.key_pairs" -> "count", "tiling.fragments" -> "count",
    "tiling.clip_yield" -> "ratio", "tiling.exchange_mb" -> "MB", "tiling.encode_skew" -> "ratio",
    "tiling.cpu_s" -> "s", "tiling.gc_s" -> "s",
    "kernels.simplify_ns" -> "ns", "kernels.clip_ns" -> "ns", "kernels.way_assembly_ns" -> "ns",
    "kernels.multipolygon_ns" -> "ns", "kernels.clip_failures" -> "count",
    "mvt.encode_ns" -> "ns", "mvt.layer_encode_ns" -> "ns", "mvt.bytes_per_feature" -> "bytes",
    "mvt.empty_fragments" -> "count",
    "mvt.tile_bytes" -> "bytes", "mvt.max_tile_bytes" -> "bytes",
    "geom.wkb_read_ns" -> "ns", "geom.wkb_write_ns" -> "ns", "geom.tile_keys_ns" -> "ns",
    "sink.write_s" -> "s", "sink.files" -> "count", "sink.us_per_file" -> "us", "sink.bytes_mb" -> "MB",
    "sink.partitions_written" -> "count", "sink.partitions_skipped" -> "count",
    "joins.broadcast_s" -> "s", "joins.cell_s" -> "s", "joins.cell_candidates" -> "count", "joins.hits" -> "count",
    "joins.refine_yield" -> "ratio", "joins.shuffle_write_mb" -> "MB",
    "joins.broadcast_pts_per_s" -> "1/s", "joins.cell_pts_per_s" -> "1/s",
    "streaming.refresh_s" -> "s", "streaming.dirty_tiles" -> "count", "streaming.dirty_keys_s" -> "s",
    "streaming.render_s" -> "s",
    "streaming.snapshot_rows_scanned" -> "count", "streaming.scan_per_tile" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.orchestration_s" -> "s", "spark.scheduler_delay_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_fetch_wait_s" -> "s", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "spark.task_failures" -> "count",
    "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s")
}

package vps.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan hygiene audit: prints `explain(formatted)` for the hot paths and greps
  * the plans for the properties we require at scale (pushed filters, pruned
  * scan schemas, broadcast joins where intended, whole-stage codegen spans).
  * Run: sbt "runMain vps.tools.ExplainCheck [sfDir]"
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    vps.geom.Geo.registerUDTs()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22) // GridBurn's partial aggregation stays hash-based (see GridBurn)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def audit(name: String, df: org.apache.spark.sql.DataFrame, expect: Seq[String]): Unit = {
      df.collect() // materialize AQE stages: codegen/broadcast decisions are final
      val plan = df.queryExecution.executedPlan.toString + "\n" + df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(s"\n========== $name ==========")
      println(plan.take(6000))
      expect.foreach { e =>
        val ok = plan.contains(e)
        println(s"[check] ${if (ok) "PASS" else "MISS"}: $e")
      }
    }

    // 1) projection+filter pushdown reaches the parquet scan
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    audit("filter+prune pushdown", li,
      Seq("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]",
        "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"))

    // 2) broadcast hash join for the dim join
    val join = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .join(broadcast(spark.read.parquet(s"$sfDir/orders.parquet")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count()
    audit("broadcast dim join", join, Seq("BroadcastHashJoin"))

    // 3) tile/cell math stays inside WholeStageCodegen
    val docs = vps.docs.InterleavedDocs.fromDocuments(spark, sfDir)
    val cells = vps.docs.InterleavedDocs.extractGeoSpans(docs)
      .select(vps.sql.functions.cell_at(
        vps.sql.functions.st_x(col("geom")), vps.sql.functions.st_y(col("geom")), 10).as("cell"))
      .groupBy("cell").count()
    audit("cell assignment agg", cells,
      Seq("*(1)", "HashAggregate")) // *(n) = whole-stage codegen span

    // 4) pip cell join is a plain shuffle equi-join (AQE-eligible), not NL-join
    val polys = spark.range(0, 40).toDF("poly_id")
      .select(col("poly_id"), vps.sql.functions.st_geomFromWKT(
        lit("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")).as("geom"))
    val pts = vps.docs.InterleavedDocs.extractGeoSpans(docs).select(col("id"), col("geom"))
    val pip = vps.joins.SpatialJoins.pipCellJoin(pts, polys, 7)
    audit("pip cell join", pip, Seq("HashJoin")) // tiny dim side -> broadcast; big-big -> SMJ via AQE

    // 5) partial aggregation before the shuffle (map-side combine)
    val partial = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    audit("partial agg", partial, Seq("HashAggregate", "Exchange"))

    // 6) single-phase tiling: exactly ONE exchange in the whole plan (the
    // fused fragment generator runs map-side; tile encode in the reducer)
    val tilesDf = vps.tiling.TilePipeline.tileZoom(
      pts.select((col("id")).as("id"), col("geom")), 6).toDF()
    tilesDf.collect()
    // final AQE plan only (the executed-plan string appends "== Initial Plan ==")
    val tilePlan = tilesDf.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    val nHash = "Exchange hashpartitioning".r.findAllIn(tilePlan).length
    println(s"\n========== single-phase tiling exchange count ==========")
    println(s"[check] ${if (nHash == 1) "PASS" else s"MISS ($nHash)"}: " +
      "exactly one hash Exchange (the tile key; corpus-synthesis round-robin spread excluded)")

    // 7) rasterize: the exchange carries partial GRIDS (gridburn partial
    // aggregation appears BELOW the exchange), and there is exactly one
    val raster = vps.raster.Raster.rasterize(pts, zoom = 6, resolution = 16).toDF()
    raster.collect()
    val rPlan = raster.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    val rHash = "Exchange hashpartitioning".r.findAllIn(rPlan).length
    val partialBurn = rPlan.contains("partial_gridburn")
    println(s"\n========== rasterize grid-carrying exchange ==========")
    println(s"[check] ${if (rHash == 1) "PASS" else s"MISS ($rHash)"}: exactly one hash Exchange (the tile key)")
    println(s"[check] ${if (partialBurn) "PASS" else "MISS"}: partial_gridburn below the exchange (map-side grids)")

    // 8) deterministic split: the scan prunes to the id column (the split is
    // a pure function of doc_id — reading text would be a wasted 100-TB scan)
    val splitDf = vps.ml.Sampling.assignSplits(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id",
      Seq("train" -> 0.9, "val" -> 0.1))
      .select("doc_id", "split")
    audit("hash-split column pruning", splitDf,
      Seq("ReadSchema: struct<doc_id:bigint>", "*(1)"))

    // 9) decontamination: the eval gram set broadcasts; the train side
    // stays map-side up to the per-doc hit count
    val docsTbl = spark.read.parquet(s"$sfDir/documents.parquet")
    val decon = vps.ml.Decontam.contaminatedDocs(
      docsTbl, docsTbl.where(col("doc_id") % 50 === 0).select(col("text")),
      idCol = "doc_id")
    audit("decontam broadcast probe", decon, Seq("BroadcastHashJoin"))

    // 10) domain cap: the kept-id set comes back as a BROADCAST semi-join
    // (never a corpus shuffle), and the heap aggregate runs partial+final
    val domains = docsTbl.select(col("doc_id"), col("source").as("domain"))
    val capped = vps.text.UrlOps.domainCap(domains, "domain", "doc_id", cap = 10)
    capped.collect()
    val cPlan = capped.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    println(s"\n========== domain cap (heap agg + broadcast semi-join) ==========")
    println(s"[check] ${if (cPlan.contains("BroadcastHashJoin") && cPlan.contains("LeftSemi")) "PASS" else "MISS"}: broadcast left-semi join-back")
    val nObj = "ObjectHashAggregate".r.findAllIn(cPlan).length
    println(s"[check] ${if (nObj >= 2) "PASS" else s"MISS ($nObj)"}: partial+final keep_smallest aggregation")

    // 11) vocab top-k: TakeOrderedAndProject (bounded heaps, no global sort),
    // map-side partial agg on the exploded token stream
    val topk = vps.text.Vocab.topK(vps.text.Vocab.termStats(
      vps.text.Vocab.docTermCounts(docsTbl, "doc_id", "text"), "doc_id"), 100)
    audit("vocab top-k", topk, Seq("TakeOrderedAndProject", "HashAggregate"))

    // 12) winnow candidates: exactly THREE hash exchanges — fp buckets
    // (partial collect_capped BELOW it: the mega-bucket volume bound), the
    // explicit respread of the capped bucket buffers (anti-AQE-funneling for
    // the pair-generate stage; carries only O(maxBucket) arrays), and the
    // pair count. Document bytes never ride a shuffle, only (id, fp) /
    // capped id-arrays / (id_a, id_b).
    val wc = vps.ml.Dedup.winnowCandidates(
      docsTbl.select(col("doc_id").as("id"), col("text")), minShared = 2)
    wc.collect()
    val wcPlan = wc.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    val wcEx = "Exchange hashpartitioning".r.findAllIn(wcPlan).length
    println(s"\n========== winnow candidate pairs ==========")
    println(s"[check] ${if (wcEx == 3) "PASS" else s"MISS ($wcEx)"}: exactly three hash Exchanges (fp buckets, capped-buffer respread, pair count)")
    println(s"[check] ${if (wcPlan.contains("ObjectHashAggregate")) "PASS" else "MISS"}: capped-bucket ObjectHashAggregate")
    // the mega-bucket bound itself: a partial (map-side) collect_capped must
    // sit below the fp exchange
    val wcPartial = wcPlan.contains("partial_collect_capped") ||
      "ObjectHashAggregate".r.findAllIn(wcPlan).length >= 2
    println(s"[check] ${if (wcPartial) "PASS" else "MISS"}: partial collect_capped below the bucket exchange")

    spark.stop()
  }
}

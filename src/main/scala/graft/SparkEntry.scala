package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import vps.docs.InterleavedDocs
import vps.joins.SpatialJoins
import vps.ml.{Dedup, VectorSearch}
import vps.sql.functions._
import vps.text.functions._
import vps.tiling.TilePipeline

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2), with an ANSI-SQL DuckDB oracle where the semantics are
  * SQL-expressible. Column names/types and row ordering match the oracle SQL
  * exactly (the driver sorts columns by name and hashes values).
  */
object SparkEntry {

  private def t(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** documents is a single small parquet file at test SFs -> one input split;
    * spread it so per-doc kernels (minhash, simhash, regex) use every core.
    * Gated on the actual scan layout: a production-scale table already splits
    * into >= parallelism partitions and must NOT pay a full-corpus shuffle here.
    */
  private def docsT(s: SparkSession, dir: String): DataFrame = {
    val df = t(dir, "documents")(s)
    val parallelism = s.sparkContext.defaultParallelism
    // split-count probe without materializing an RDD lineage on the driver:
    // the scan yields ~ceil(bytes / maxPartitionBytes) input splits, so a
    // table smaller than parallelism x maxPartitionBytes cannot fill the cores
    val maxSplitBytes = s.sessionState.conf.filesMaxPartitionBytes
    val scanBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (scanBytes < BigInt(maxSplitBytes) * parallelism) df.repartition(parallelism) else df
  }

  /** Geo points extracted from interleaved-doc spans (the engine's input).
    * Fused generator path: same rows as `extractGeoSpans(fromDocuments(...))`
    * with coordinates bit-exact to the ORACLE's closed-form arithmetic
    * (DocsSpec gates that, plus the bounded last-ulp drift vs the WKT
    * span path) — and no span arrays, no document-text read, no WKT
    * format/parse round trip.
    */
  private def geoPoints(spark: SparkSession, dir: String): DataFrame = {
    vps.geom.Geo.registerUDTs()
    InterleavedDocs.geoSpansDirect(spark, dir)
  }

  /** Flagship: spans -> geometry -> salted tile groupBy -> clip -> MVT encode,
    * on sf0.001; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    vps.geom.Geo.registerUDTs()
    val pts = geoPoints(spark, "/root/testdata/sf0.001")
      .select((col("id") * 10 + col("span_offset")).as("id"), col("geom"))
    TilePipeline.tileZoom(pts, 6).toDF()
      .select(col("zoom"), col("x"), col("y"), col("features"), length(col("mvt")).as("mvt_bytes"))
  }

  // the PIP fixture polygons: 40 deterministic lon/lat boxes
  private def boxPolys(spark: SparkSession): DataFrame =
    spark.range(0, 40).toDF("poly_id")
      .select(col("poly_id"),
        ((col("poly_id") * 97 % 340) - 170.0).as("lon0"),
        ((col("poly_id") * 61 % 150) - 75.0).as("lat0"))
      .select(col("poly_id"), st_geomFromWKT(format_string(
        "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
        col("lon0"), col("lat0"),
        col("lon0") + 15.0, col("lat0"),
        col("lon0") + 15.0, col("lat0") + 12.0,
        col("lon0"), col("lat0") + 12.0,
        col("lon0"), col("lat0"))).as("geom"))

  /** base ∪ transformed-copy corpus synthesized in ONE scan: the two-branch
    * `unionAll` doubles the map-task count (each branch re-reads and
    * re-spreads the corpus — 64 tasks per kernel stage at bench config);
    * exploding a 2-element array emits the identical row multiset from a
    * single pass.
    */
  private def withCopy(base: DataFrame, copyId: Column, copyText: Column): DataFrame =
    base.select(explode(array(
      struct(col("id"), col("text")),
      struct(copyId.as("id"), copyText.as("text")))).as("e"))
      .select(col("e.id").as("id"), col("e.text").as("text"))

  /** Exact-duplicate pairs of the base+copies corpus found VIA the LSH
    * pipeline (bands -> bucket pairs -> jaccard >= 1.0 -> exact text
    * equality) — shared by q27 (pairs) and q36 (groups via connected
    * components). The equality verify reads the texts ALREADY materialized
    * inside the candidate verify join (`carryText`) instead of paying two
    * more corpus joins.
    */
  private def exactPairsViaLsh(s: SparkSession, dir: String): DataFrame = {
    val base = docsT(s, dir).select(col("doc_id").as("id"), col("text"))
    val corpus = withCopy(base, col("id") + 100000L, col("text"))
    Dedup.minhashCandidates(corpus, minJaccard = 1.0, carryText = true)
      .where(col("text_a") === col("text_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Size-gated spread of a fact-table scan (docsT's pattern): the test-SF
    * parquet is a couple of input splits, which serializes scan-fused
    * aggregation/window work on a handful of cores; a production-scale table
    * already splits past `parallelism` and pays nothing here. Hash spread on
    * a real column (round-robin would pay the sort-before-repartition pass).
    */
  private def spreadT(dir: String, name: String, key: String)
      (implicit spark: SparkSession): DataFrame = {
    val df = t(dir, name)
    val parallelism = spark.sparkContext.defaultParallelism
    val maxSplitBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val scanBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (scanBytes < BigInt(maxSplitBytes) * parallelism)
      df.repartition(parallelism, col(key))
    else df
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- general query capability over the TPC-H-ish tables ----
    // NOT spread: the scan-fused partial aggregation collapses 600k rows to a
    // handful of groups BEFORE any exchange (guide §2.3 "aggregate before you
    // shuffle") — an up-front spread would shuffle the full table first and
    // measured ~0.2 s slower in-suite
    "q01_agg" -> ((s, dir) => {
      implicit val spark = s
      t(dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000).cast("long"))
            .as("revenue_e4"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_join_agg" -> ((s, dir) => {
      implicit val spark = s
      spreadT(dir, "lineitem", "l_orderkey")
        .join(broadcast(t(dir, "orders")), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000).cast("long"))
            .as("revenue_e4"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),
    "q03_window_topn" -> ((s, dir) => {
      implicit val spark = s
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      // the window requires hashpartitioning(o_custkey); the explicit spread
      // IS that exchange at task parallelism (AQE would funnel the 2.6 MB
      // shuffle into 1-2 tasks and serialize the sort+window)
      spreadT(dir, "orders", "o_custkey")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // ---- temporal versioning windows (the reference's W1-W3 family) ----
    "q04_validity_window" -> ((s, dir) => {
      implicit val spark = s
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(dir, "events")
        .withColumn("valid_until_us", unix_micros(lead(col("ts"), 1).over(w).cast("timestamp")))
        .withColumn("minor_version", row_number().over(w) - 1)
        .select(col("event_id"), col("valid_until_us"), col("minor_version"))
        .orderBy("event_id")
    }),
    "q05_asof_join" -> ((s, dir) => {
      implicit val spark = s
      val events = t(dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val orders = t(dir, "orders")
        .select(col("o_custkey").as("user_id"), col("o_orderkey"), col("o_orderdate"))
      // aggregation-form as-of: partial agg collapses each event's candidate
      // orders map-side; the window form shuffled + sorted the whole
      // equi-join candidate set (same latest-date-then-smallest-key result)
      vps.joins.SpatialJoins.asofLatestAgg(events, orders, Seq("user_id"),
          leftTimeCol = "ts", rightTimeCol = "o_orderdate",
          leftIdCol = "event_id", tieBreakCol = "o_orderkey", valueCols = Seq("o_orderkey"))
        .orderBy("event_id")
    }),
    "q06_change_detect" -> ((s, dir) => {
      implicit val spark = s
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(dir, "events")
        .withColumn("changed", !(lag(col("event_type"), 1).over(w) <=> col("event_type")))
        .groupBy(col("user_id"))
        .agg(sum(when(col("changed"), 1L).otherwise(0L)).as("n_changes"), count(lit(1)).as("n"))
        .orderBy("user_id")
    }),

    // ---- interleaved-doc span extraction + geometry (G6 / F20-F23) ----
    "q07_span_extract" -> ((s, dir) => {
      geoPoints(s, dir)
        .select(col("doc_id"), col("span_offset"),
          round(st_x(col("geom")) * 10000).cast("long").as("lon_e4"),
          round(st_y(col("geom")) * 10000).cast("long").as("lat_e4"))
        .orderBy(col("doc_id"), col("span_offset"))
    }),
    "q08_tile_assign" -> ((s, dir) => {
      geoPoints(s, dir)
        .where(col("span_offset") === 1)
        .select(tile_x(st_x(col("geom")), 8).as("tx"), tile_y(st_y(col("geom")), 8).as("ty"))
        .groupBy("tx", "ty").agg(count(lit(1)).as("n"))
        .orderBy("tx", "ty")
    }),
    "q09_cell_assign" -> ((s, dir) => {
      geoPoints(s, dir)
        .select(cell_at(st_x(col("geom")), st_y(col("geom")), 10).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .orderBy("cell")
    }),

    // ---- spatial joins (J9/J10) ----
    "q10_pip_join" -> ((s, dir) => {
      val pts = geoPoints(s, dir)
        .select((col("id") * 10 + col("span_offset")).as("pt_id"), col("geom"))
      // projected variant: only (id, poly_id) leave the probe
      SpatialJoins.pipBroadcastIds(pts, boxPolys(s), pointIdCol = "pt_id")
        .select(col("pt_id"), col("poly_id"))
        .orderBy("pt_id", "poly_id")
    }),
    "q11_pip_cell_join" -> ((s, dir) => {
      val pts = geoPoints(s, dir)
        .select((col("id") * 10 + col("span_offset")).as("pt_id"), col("geom"))
      SpatialJoins.pipCellJoin(pts, boxPolys(s), level = 6)
        .select(col("pt_id"), col("poly_id"))
        .orderBy("pt_id", "poly_id")
    }),
    "q12_knn" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq((0L, 10.0, 20.0), (1L, -120.0, -60.0), (2L, 179.0, 79.0))
        .toDF("query_id", "qlon", "qlat")
        .select(col("query_id"), st_point(col("qlon"), col("qlat")).as("geom"))
      val pts = geoPoints(s, dir).where(col("span_offset") === 1)
        .select(col("id"), col("geom"))
      SpatialJoins.knnBroadcast(pts, queries, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- tiling pipeline (flagship, SQL-checkable projection) ----
    "q13_tile_pipeline" -> ((s, dir) => {
      val pts = geoPoints(s, dir)
        .select((col("id") * 10 + col("span_offset")).as("id"), col("geom"))
      TilePipeline.tileZoom(pts, 6).toDF()
        .select(col("x"), col("y"), col("features").cast("long").as("n"))
        .orderBy("x", "y")
    }),

    // ---- dedup family ----
    "q14_dedup_exact" -> ((s, dir) => {
      val base = docsT(s, dir).select(col("doc_id").as("id"), col("text"))
      val corpus = withCopy(base, col("id") + 100000L, col("text"))
      Dedup.exactDuplicates(corpus)
        .select(col("digest"), col("keep_id"), col("n"))
        .orderBy("digest")
    }),
    "q15_minhash_lsh" -> ((s, dir) => {
      val base = docsT(s, dir).select(col("doc_id").as("id"), col("text"))
      val corpus = withCopy(base, col("id") + 100000L,
        concat(col("text"), lit(" tiny suffix")))
      Dedup.minhashCandidates(corpus, minJaccard = 0.6)
        .select(col("id_a"), col("id_b"), floor(col("jaccard") * 1000).cast("long").as("jaccard_e3"))
        .orderBy("id_a", "id_b")
    }),
    "q16_simhash" -> ((s, dir) => {
      val base = docsT(s, dir).select(col("doc_id").as("id"), col("text"))
      Dedup.simhashCandidates(
        withCopy(base, col("id") + 100000L, col("text")), maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    }),
    "q17_embed_neardup" -> ((s, dir) => {
      implicit val spark = s
      val vecs = t(dir, "embeddings")
      val planted = vecs.where(col("vec_id") < 20)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"), col("label"))
      Dedup.embeddingNearDuplicates(vecs.unionAll(planted), minCosine = 0.999)
        .select(col("id_a"), col("id_b"), floor(col("cosine") * 1000000).cast("long").as("cos_e6"))
        .orderBy("id_a", "id_b")
    }),

    // ---- similarity search over embeddings ----
    "q18_knn_embedding" -> ((s, dir) => {
      implicit val spark = s
      val vecs = t(dir, "embeddings")
      val queries = vecs.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      VectorSearch.bruteTopK(vecs, queries, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "q19_embed_buckets" -> ((s, dir) => {
      implicit val spark = s
      val sign = (0 until 8).map { i =>
        when(element_at(col("embedding"), i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      t(dir, "embeddings")
        .select(sign.as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // ---- text analysis ----
    "q20_token_stats" -> ((s, dir) => {
      docsT(s, dir)
        .where(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          token_count(col("text")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("chars"),
          (length(col("text")) - length(regexp_replace(col("text"), "[\\.,;:!?]", "")))
            .cast("long").as("punct"))
        .orderBy("doc_id")
    }),
    "q21_hashtags" -> ((s, dir) => {
      val withTags = docsT(s, dir)
        .select(col("doc_id"),
          concat(lit("#tag"), col("doc_id") % 5, lit(" note #MixedCase: "), col("text")).as("comment"))
      withTags
        .select(col("doc_id"), explode(vps.sql.TagFunctions.hashtags(col("comment"))).as("tag"))
        .orderBy("doc_id", "tag")
    }),
    "q22_langid" -> ((s, dir) => {
      docsT(s, dir)
        .select(lang_id(col("text")).as("lang"))
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),
    "q23_fingerprint" -> ((s, dir) => {
      docsT(s, dir)
        .select(col("doc_id"), doc_fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ---- span-sequence invariant probe (north rule) ----
    "q24_span_invariant" -> ((s, dir) => {
      val docs = InterleavedDocs.fromDocuments(s, dir)
      // a shuffle-heavy round trip that must keep every span sequence intact
      val before = docs.select(col("doc_id"), InterleavedDocs.spanFingerprint(col("spans")).as("fp"))
      val after = docs.repartition(16, col("doc_id"))
        .join(docs.select(col("doc_id")).distinct(), Seq("doc_id"))
        .select(col("doc_id"), InterleavedDocs.spanFingerprint(col("spans")).as("fp"))
      before.as("b").join(after.as("a"), "doc_id")
        .select(col("doc_id"),
          when(col("b.fp") === col("a.fp"), lit(1L)).otherwise(lit(0L)).as("intact"))
        .orderBy("doc_id")
    }),

    // ---- media decode: REAL PNG bytes (generator closed forms) -> JDK
    // ImageIO decode -> measured dims/channels/per-channel pixel means, with
    // ids % 17 == 0 carrying corrupt bytes through the error channel
    // (decode_ok = false, null facts, row kept). Every output value is either
    // measured from real pixels or the oracle's closed form of the id ----
    "q25_media_decode" -> ((s, dir) => {
      val docs = InterleavedDocs.fromDocuments(s, dir)
      val media = docs.select(col("doc_id"), col("id"), explode(col("spans")).as("span"))
        .where(col("span.kind") === "image")
        .select(col("doc_id"), col("id"), col("span.media_ref").as("media_ref"))
        .withColumn("blob", vps.media.MediaPipeline.synthesizeImageBlob(col("id")))
      vps.media.MediaPipeline.decode(media, "blob", new vps.media.ImageIoCodec)
        .select(col("doc_id"), col("media_kind"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("mean_r").cast("long").as("mean_r"), col("mean_g").cast("long").as("mean_g"),
          col("mean_b").cast("long").as("mean_b"), col("decode_ok"))
        .orderBy("doc_id")
    }),

    // ---- multi-layer tiling (reference LayerNamesInColumn, A5/K10) ----
    "q26_tile_layers" -> ((s, dir) => {
      import s.implicits._
      val pts = geoPoints(s, dir)
        .select((col("id") * 10 + col("span_offset")).as("id"), col("geom"),
          when(col("span_offset") === 1, "primary").otherwise("secondary").as("kind"))
      // end-to-end check: encode multi-layer MVT bytes, decode them back,
      // count features per (tile, layer)
      TilePipeline.tileZoom(pts, 6, TilePipeline.Options(layerColumn = Some("kind")))
        .flatMap(t => vps.mvt.Mvt.decode(t.mvt).layers.map(l =>
          (t.x, t.y, l.name, l.features.size.toLong)))
        .toDF("x", "y", "layer", "n")
        .orderBy("x", "y", "layer")
    }),

    // ---- minhash-LSH with a SQL-provable projection: LSH candidates at
    // minJaccard=1.0 (equal distinct-shingle sets) finished with an exact
    // text-equality verify — the exact-dedup-via-LSH pipeline. The equality
    // step matters: the corpus REALLY contains texts with equal shingle sets
    // but unequal strings (measured at sf0.1), and natural exact duplicates
    // at any SF are handled by the self-join oracle. LSH recall on identical
    // texts is exact (identical signatures) ----
    "q27_minhash_exact" -> ((s, dir) => {
      exactPairsViaLsh(s, dir)
        .select(col("id_a"), col("id_b"), floor(col("jaccard") * 1000).cast("long").as("jaccard_e3"))
        .orderBy("id_a", "id_b")
    }),

    // ---- dedup membership as rows (scale-safe group membership) ----
    "q28_dedup_members" -> ((s, dir) => {
      val base = docsT(s, dir).select(col("doc_id").as("id"), col("text"))
      val corpus = withCopy(base, col("id") + 100000L, col("text"))
      Dedup.exactDuplicateMembership(corpus)
        .select(col("digest"), col("id"), col("keep_id"))
        .orderBy("digest", "id")
    }),

    // ---- IVF ANN via the PERSISTED index: build once per source content
    // (index dir keyed by a source-file signature, reused across calls and
    // JVMs — the amortization the persistence exists for), search the parquet
    // index. Full probe == exact, so the brute-force oracle applies ----
    "q29_ivf_knn" -> ((s, dir) => {
      implicit val spark = s
      val vecs = t(dir, "embeddings")
      val queries = vecs.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      def sig(f: java.io.File): Long =
        if (f.isDirectory)
          // sort: listFiles order is filesystem-dependent and would otherwise
          // change the signature (and defeat cross-host reuse); null on an IO
          // race degrades to a name-only signature instead of an NPE
          Option(f.listFiles()).map(_.sortBy(_.getName).toSeq).getOrElse(Seq.empty)
            .map(sig).foldLeft(f.getName.hashCode.toLong)(_ * 31 + _)
        else {
          // fold a CONTENT sample (first 4 KiB) in alongside name/length/mtime:
          // regenerated data with identical file metadata (or an
          // mtime-preserving copy) must not reuse a stale index
          var h = f.getName.hashCode.toLong * 31 + f.length * 31 + f.lastModified
          if (f.getName.endsWith(".parquet") || f.getName.endsWith(".snappy")) {
            val in = new java.io.FileInputStream(f)
            try {
              val buf = new Array[Byte](4096)
              val n = in.read(buf)
              var i = 0
              while (i < n) { h = h * 1099511628211L ^ (buf(i) & 0xffL); i += 1 }
            } finally in.close()
          }
          h
        }
      val idx = s"${System.getProperty("java.io.tmpdir")}/vps_ivf_" +
        java.lang.Long.toHexString(sig(new java.io.File(s"$dir/embeddings.parquet")))
      // ONE atomic completion marker written AFTER both outputs (rename is
      // atomic on a local fs): a crash between the two parquet writes can
      // never present a half-built index as built
      val marker = new java.io.File(s"$idx/_COMPLETE")
      if (!marker.exists) {
        VectorSearch.buildIndex(vecs, idx, numCentroids = 8)
        val tmp = new java.io.File(s"$idx/_COMPLETE.tmp")
        java.nio.file.Files.write(tmp.toPath, Array.emptyByteArray)
        tmp.renameTo(marker)
      }
      VectorSearch.searchIndex(s, idx, queries, k = 3, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // ---- quality scoring (builtin compositions, fully SQL-checkable) ----
    "q31_quality" -> ((s, dir) => {
      docsT(s, dir)
        .select(col("doc_id"), quality_features(col("text")).as("q"))
        .select(col("doc_id"),
          col("q.n_chars").cast("long").as("n_chars"),
          col("q.n_tokens").cast("long").as("n_tokens"),
          floor(col("q.chars_per_token") * 1000).cast("long").as("cpt_e3"),
          floor(col("q.punct_ratio") * 100000).cast("long").as("punct_e5"))
        .orderBy("doc_id")
    }),

    // ---- second typed feed: changeset batch mirror (nested comments array;
    // the stream shares the generator — DocStreamSpec gates stream == frame) ----
    "q32_changesets" -> ((s, dir) => {
      vps.streaming.Changesets.frame(s, sequences = 20, rowsPerSeq = 100)
        .select(col("changeset_id"), col("uid"), col("user"), col("open"),
          size(col("comments")).cast("long").as("n_comments"),
          // nested-content probe: fold over the comments array
          aggregate(col("comments"), lit(0L), (acc, c) => acc + c.getField("ts"))
            .as("sum_comment_ts"),
          coalesce(col("closed_at"), lit(0L)).as("closed_at"))
        .orderBy("changeset_id")
    }),

    // ---- gap-based sessionization (streaming session_window semantics on
    // the batch mirror; DocStreamSpec gates streaming == batch) ----
    "q33_sessions" -> ((s, dir) => {
      vps.streaming.ChangesetSessions.commentSessions(
        vps.streaming.Changesets.frame(s, sequences = 20, rowsPerSeq = 100), gapSeconds = 600)
        .select(col("user"),
          col("session_start").cast("long").as("session_start"),
          col("session_end").cast("long").as("session_end"),
          col("n_comments"))
        .orderBy("user", "session_start")
    }),

    // ---- raster zonal statistics (rasterize -> per-zone cell aggregation) ----
    "q34_zonal" -> ((s, dir) => {
      val pts = geoPoints(s, dir).select(col("geom"))
      // point input -> the space-partitioned scale path (byte-equal to
      // rasterize, RasterSpec; ~2x the map-side throughput)
      val tiles = vps.raster.Raster.rasterizePoints(pts, zoom = 6, resolution = 16)
      vps.raster.Raster.zonalStats(tiles,
        boxPolys(s).select(col("poly_id").as("zone_id"), col("geom")))
        .select(col("zone_id"), col("n_cells"), col("sum").cast("long").as("sum_w"))
        .orderBy("zone_id")
    }),

    // ---- distributed connected components over planted transitive chains:
    // pairs (id, id+1) within blocks of 16 form 16-long paths whose endpoints
    // are never directly paired — grouping them proves transitive resolution;
    // component = block minimum, closed-form checkable in SQL ----
    "q35_components" -> ((s, dir) => {
      val ids = docsT(s, dir).select(col("doc_id").cast("long").as("id"))
      val pairs = ids.where(col("id") % 16 =!= 15)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        .join(ids.select(col("id").as("id_b")), Seq("id_b")) // partner must exist
      vps.ml.Components.connectedComponents(pairs)
        .select(col("id"), col("component"))
        .orderBy("id")
    }),

    // ---- near-dup GROUP membership (LSH pairs -> connected components):
    // the equality-verified pairs (see q27) are exactly the equal-text
    // pairs, so membership must equal the exact-dedup digest groups —
    // including groups merged by NATURAL exact duplicates in the corpus ----
    "q36_neardup_members" -> ((s, dir) => {
      vps.ml.Components.connectedComponents(
        exactPairsViaLsh(s, dir).select(col("id_a"), col("id_b")))
        .select(col("id"), col("component").as("keep_id"))
        .orderBy("id")
    }),

    // ---- third typed feed: augmented-diff prev/current pairs — tag/geom
    // change detection reads the REAL nested pair columns (null-safe map and
    // string compares, nds sizes); the oracle recomputes every field from the
    // generator's integer formulas (DocStreamSpec gates stream == frame) ----
    "q37_diff_tag_change" -> ((s, dir) => {
      vps.streaming.Diffs.frame(s, sequences = 20, rowsPerSeq = 100)
        .select(col("id"),
          col("element_type").cast("int").as("element_type"),
          col("version"), col("minor_version"),
          (col("prev_tags").isNotNull &&
            !(array_sort(map_entries(col("tags"))) <=> array_sort(map_entries(col("prev_tags")))))
            .as("tags_changed"),
          (col("prev_geom_wkt").isNotNull && !(col("geom_wkt") <=> col("prev_geom_wkt")))
            .as("geom_changed"),
          size(col("nds")).cast("long").as("n_nds"),
          coalesce(size(col("prev_nds")), lit(-1)).cast("long").as("n_prev_nds"),
          (!col("visible")).as("deleted"),
          coalesce(col("prev_version"), lit(0)).as("prev_version"),
          element_at(col("tags"), "v").as("tag_v"),
          coalesce(element_at(col("prev_tags"), "v"), lit("-")).as("prev_tag_v"))
        .orderBy("id")
    }),

    // ---- dirty-tile detection over the diff feed: a changed feature
    // dirties its current AND previous tiles (moved/deleted features must
    // vanish from their old tile) — the per-batch re-render list ----
    "q39_dirty_tiles" -> ((s, dir) => {
      vps.streaming.DirtyTiles.fromDiffs(
        vps.streaming.Diffs.frame(s, sequences = 20, rowsPerSeq = 100), zoom = 6)
        .select(col("x"), col("y"), col("n_changes"))
        .orderBy("x", "y")
    }),

    // ---- reprojection (F22) through the driver gate: lon/lat -> web
    // mercator via st_reproject, centimeter-rounded; the oracle recomputes
    // the closed forms (same arithmetic order as TileMath) ----
    "q38_reproject" -> ((s, dir) => {
      geoPoints(s, dir)
        .select(col("doc_id"), col("span_offset"),
          vps.sql.functions.st_reproject(col("geom"), "EPSG:4326", "EPSG:3857").as("g"))
        .select(col("doc_id"), col("span_offset"),
          round(st_x(col("g")) * 100).cast("long").as("mx_e2"),
          round(st_y(col("g")) * 100).cast("long").as("my_e2"))
        .orderBy("doc_id", "span_offset")
    }),

    // ---- dissolve (st_union_agg) + st_make_valid over 60 deterministic
    // integer boxes with REAL overlaps (grp = poly_id % 5, 12 boxes each):
    // the DuckDB oracle recomputes the union area exactly by coordinate-
    // compressed grid sweep and the part count by recursive-CTE connectivity
    // (boxes share edges/areas, never lone corner points, so JTS's merge
    // semantics and rectangle-overlap connectivity agree) ----
    "q40_dissolve" -> ((s, dir) => {
      val polys = s.range(0, 60).toDF("poly_id")
        .select(col("poly_id"), (col("poly_id") % 5).as("grp"),
          (col("poly_id") * 37 % 100 - 50).cast("double").as("x0"),
          (col("poly_id") * 53 % 80 - 40).cast("double").as("y0"))
        .select(col("poly_id"), col("grp"), st_geomFromWKT(format_string(
          "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
          col("x0"), col("y0"), col("x0") + 20.0, col("y0"),
          col("x0") + 20.0, col("y0") + 16.0, col("x0"), col("y0") + 16.0,
          col("x0"), col("y0"))).as("geom"))
      polys.groupBy("grp")
        .agg(vps.sql.functions.st_union_agg(
          vps.sql.functions.st_makeValid(col("geom"))).as("u"))
        .select(col("grp"),
          floor(st_area(col("u")) * 100).cast("long").as("area_e2"),
          st_numGeometries(col("u")).cast("long").as("n_parts"))
        .orderBy("grp")
    }),

    // ---- reverse geocode (broadcast pip + per-row region names) ----
    "q30_geocode" -> ((s, dir) => {
      val pts = geoPoints(s, dir)
        .select((col("id") * 10 + col("span_offset")).as("pt_id"), col("geom"))
      val regions = boxPolys(s)
        .select(concat(lit("r"), col("poly_id")).as("name"), col("geom"))
      vps.joins.Geocode.withRegions(pts, regions)
        .select(col("pt_id"), explode(col("regions")).as("region"))
        .orderBy("pt_id", "region")
    }),

    // ---- simhash with a SQL-provable projection (q27's pattern): pairs at
    // hamming 0 finished with an exact text-equality verify. Identical texts
    // have identical simhash signatures, hence identical bands — recall on
    // the projection is exact — and the equality verify removes the
    // token-permuted texts whose signatures legitimately tie ----
    "q41_simhash_exact" -> ((s, dir) => {
      val base = docsT(s, dir).select(col("doc_id").as("id"), col("text"))
      val corpus = withCopy(base, col("id") + 100000L, col("text"))
      Dedup.simhashCandidates(corpus, maxHamming = 0)
        .join(corpus.select(col("id").as("id_a"), col("text").as("_ta")), Seq("id_a"))
        .join(corpus.select(col("id").as("id_b"), col("text").as("_tb")), Seq("id_b"))
        .where(col("_ta") === col("_tb"))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // ---- near-dup GROUP membership from the EMBEDDING pair list — the
    // documented pair-list composability of Components executed end-to-end.
    // Two planted copies of each low-id vector force deterministic 3-member
    // groups (the natural corpus has no 0.98-cosine pairs at test SF); the
    // genuinely-transitive chain case is spec-gated in PipelineOpsSpec ----
    "q42_embed_members" -> ((s, dir) => {
      implicit val spark = s
      val vecs = t(dir, "embeddings").select(col("vec_id"), col("embedding"))
      val low = vecs.where(col("vec_id") < 100)
      val corpus = vecs
        .unionAll(low.select((col("vec_id") + 200000L).as("vec_id"), col("embedding")))
        .unionAll(low.select((col("vec_id") + 400000L).as("vec_id"), col("embedding")))
      val pairs = Dedup.embeddingNearDuplicates(corpus, minCosine = 0.98)
      vps.ml.Components.connectedComponents(pairs)
        .select(col("id"), col("component").as("keep_id"))
        .orderBy("id")
    }),

    // ---- audio decode: REAL RIFF/WAVE PCM bytes (integer triangle wave,
    // closed-form sample count / amplitude) -> javax.sound.sampled parse ->
    // measured format + full-payload peak/mean; ids % 19 == 0 carry corrupt
    // bytes through the error channel ----
    "q43_audio_decode" -> ((s, dir) => {
      val docs = InterleavedDocs.fromDocuments(s, dir)
      val media = docs.select(col("doc_id"), col("id"))
        .withColumn("blob", vps.media.AudioPipeline.synthesizeAudioBlob(col("id")))
      vps.media.AudioPipeline.decode(media, "blob")
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("n_samples"),
          col("peak").cast("long").as("peak"),
          col("mean_amp").cast("long").as("mean_amp"),
          col("decode_ok"))
        .orderBy("doc_id")
    }),

    // ---- media resize pipeline: synthesize real PNG -> bilinear downscale
    // to a 24px long side -> decode the RESIZED bytes and measure. Output
    // dims follow the closed aspect-preserving form and constant color
    // survives resampling exactly, so the whole chain is DuckDB-provable ----
    "q44_media_resize" -> ((s, dir) => {
      val docs = InterleavedDocs.fromDocuments(s, dir)
      val media = docs.select(col("doc_id"), col("id"))
        .where(col("id") % vps.media.MediaPipeline.CorruptEvery =!= 0)
        .withColumn("blob", vps.media.MediaPipeline.synthesizeImageBlob(col("id")))
      val resized = vps.media.MediaPipeline.resizeImages(media, "blob", maxDim = 24)
      vps.media.MediaPipeline.decode(resized.drop("blob"), "resized_blob",
          new vps.media.ImageIoCodec)
        .select(col("doc_id"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("mean_r").cast("long").as("mean_r"), col("mean_g").cast("long").as("mean_g"),
          col("mean_b").cast("long").as("mean_b"))
        .orderBy("doc_id")
    }),

    // ---- BPE-ish token counting (GPT-2-style pre-tokenizer regex; the
    // token-budget measure a training pipeline filters on). Lookahead-free
    // pattern, so DuckDB's RE2 evaluates the IDENTICAL regex ----
    "q45_token_bpe" -> ((s, dir) => {
      docsT(s, dir)
        .select(col("doc_id"),
          token_count(col("text")).cast("long").as("ws_tokens"),
          token_count_bpe(col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    // ---- Gopher-style repetition filtering: duplicate character-5-gram
    // fraction, the boilerplate signal a pre-training pipeline thresholds.
    // Builtin composition end-to-end, recomputed exactly by DuckDB ----
    "q46_repetition" -> ((s, dir) => {
      docsT(s, dir)
        .select(col("doc_id"),
          floor(char_ngram_repetition(col("text"), 5) * 100000).cast("long").as("rep5_e5"),
          floor(char_ngram_repetition(col("text"), 10) * 100000).cast("long").as("rep10_e5"))
        .orderBy("doc_id")
    }),

    // ---- video-frame sampling (the multi-frame media path): REAL animated
    // GIFs (the JDK's only multi-frame container; 2..8 constant-color frames,
    // every per-frame fact a closed form of (id, frame_idx)) -> JDK reader
    // seeks + decodes every 2nd frame ONLY -> one row per sampled frame with
    // measured dims/means; ids % 17 == 0 carry corrupt bytes through the
    // error channel (decode_ok = false, null facts, row kept) ----
    "q47_gif_frames" -> ((s, dir) => {
      val docs = InterleavedDocs.fromDocuments(s, dir)
      val media = docs.select(col("doc_id"), col("id"))
        .withColumn("blob", vps.media.MediaPipeline.synthesizeGifBlob(col("id")))
      vps.media.MediaPipeline.sampleGifFrames(media, "blob", stride = 2)
        .select(col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_frames").cast("long").as("n_frames"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r").cast("long").as("mean_r"),
          col("mean_g").cast("long").as("mean_g"),
          col("mean_b").cast("long").as("mean_b"),
          col("decode_ok"))
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- PII scrubbing (emails / phones / IPv4): detection counts + the
    // redacted text itself, with deterministic planted PII. Lookahead-free
    // patterns shared verbatim with the oracle (the q45 RE2 precedent);
    // pure regexp builtins — codegen'd, map-side, no shuffle ----
    "q49_redact" -> ((s, dir) => {
      import vps.text.Redact
      val pii = docsT(s, dir).select(col("doc_id"),
        concat(lit("reach doc"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") * 7 % 10000).cast("string"), 4, "0"),
          lit(" at 10."), (col("doc_id") % 256).cast("string"), lit(".0.1 "),
          col("text")).as("t"))
      pii.select(col("doc_id"),
          Redact.countEmails(col("t")).cast("long").as("n_email"),
          Redact.countPhones(col("t")).cast("long").as("n_phone"),
          Redact.countIps(col("t")).cast("long").as("n_ip"),
          Redact.redact(col("t")).as("redacted"))
        .orderBy("doc_id")
    }),

    // ---- URL extraction + registered-domain + per-domain frequency cap:
    // the C4/RefinedWeb-style hot-domain downsample. URL text is derived
    // deterministically from (source, doc_id) — the oracle rebuilds the
    // identical strings — and the cap runs through the bounded-min-heap
    // aggregate (map-side partial state <= cap pairs per domain), proven
    // equal to the window form by UrlOpsSpec ----
    "q53_url_domain_cap" -> ((s, dir) => {
      import vps.text.UrlOps
      val urls = docsT(s, dir).select(col("doc_id"),
        concat(lit("visit https://www."), col("source"), lit(".co.uk/d/"),
          col("doc_id").cast("string"), lit(" or http://img."), col("source"),
          lit(".net/x?id="), col("doc_id").cast("string")).as("t"))
        .select(col("doc_id"),
          posexplode(UrlOps.extractUrls(col("t"))).as(Seq("url_pos", "url")))
        .select(col("doc_id"), col("url_pos").cast("long").as("url_pos"),
          (col("doc_id") * 8 + col("url_pos")).as("rid"),
          UrlOps.registeredDomain(UrlOps.urlHost(col("url"))).as("domain"))
      UrlOps.domainCap(urls, "domain", "rid", cap = 15, salt = 11L)
        .select(col("domain"), col("doc_id"), col("url_pos"))
        .orderBy("domain", "doc_id", "url_pos")
    }),

    // ---- corpus-global top-k vocabulary: the per-doc term rollup happens
    // IN-ROW (term_counts map), so the only shuffle is the vocabulary-sized
    // term aggregation; TakeOrdered top-k; the rank window only sees the k
    // survivors ----
    "q54_vocab_topk" -> ((s, dir) => {
      import vps.text.Vocab
      Vocab.topK(Vocab.termStatsFused(docsT(s, dir), "text"), 100)
        .select(col("term"), col("df"), col("tf_total"), col("rank"))
        .orderBy("rank")
    }),

    // ---- Johnson-Lindenstrauss random projection: 64-dim embeddings ->
    // 8 pseudo-random hyperplane dots (the q17/q19 plane generator, rows=1);
    // stateless map-side, the plane matrix is derived not shipped. The
    // oracle rebuilds the identical splitmix weights and ordered-fold
    // double dots, so floor(v*1e6) is bit-reproducible ----
    "q59_embed_project" -> ((s, dir) => {
      implicit val spark = s
      t(dir, "embeddings").select(col("vec_id"),
          posexplode(random_projection(col("embedding"), 8)).as(Seq("dim", "value")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          floor(col("value") * 1e6).cast("long").as("v_e6"))
        .orderBy("vec_id", "dim")
    }),

    // ---- substring-level near-dup candidates via winnowing buckets:
    // planted suffix-copies share the original's (rare) fingerprints, so
    // every planted pair surfaces; fingerprints in > maxBucket docs are
    // generic word-salad phrases — dropped AND counted, mirroring the
    // MinHash family's bounded-bucket contract ----
    "q58_winnow_pairs" -> ((s, dir) => {
      val docs = docsT(s, dir).select(col("doc_id").as("id"), col("text"))
      val corpus = withCopy(docs, col("id") + 100000,
        concat(col("text"), lit(" tiny suffix")))
      vps.ml.Dedup.winnowCandidates(corpus, minShared = 30, maxBucket = 64)
        .orderBy("id_a", "id_b")
    }),

    // ---- line-level boilerplate removal (CCNet-style): lines whose
    // distinct-doc frequency >= 5 drop from every doc, remaining line order
    // preserved. The boilerplate set is the heavy-hitter tail (small ->
    // broadcast anti-join); the corpus side never reshuffles for the
    // filter ----
    "q57_line_dedup" -> ((s, dir) => {
      val docs = docsT(s, dir).select(col("doc_id"),
        concat(lit("shared banner for "), col("source"), lit("\ndoc "),
          col("doc_id").cast("string"), lit(" unique\n"), col("text")).as("text"))
      vps.text.LineDedup.dropBoilerplate(docs, "doc_id", "text", minDocFreq = 5L)
        .orderBy("doc_id")
    }),

    // ---- canonical-URL normalization: fragment / host-case / default-port
    // / tracking-param / tidy rules in fixed order, all lookahead-free
    // regexp builtins (codegen map-side); the oracle replays the identical
    // patterns under RE2 ----
    "q56_url_normalize" -> ((s, dir) => {
      import vps.text.UrlOps
      val messy = docsT(s, dir).select(col("doc_id"),
        concat(lit("HTTP://WWW."), upper(col("source")), lit(".EXAMPLE.COM:80/Path"),
          col("doc_id").cast("string"), lit("/?utm_source=x&id="),
          col("doc_id").cast("string"), lit("&fbclid=abc#frag")).as("u1"),
        concat(lit("https://CDN."), col("source"), lit(".Net:443/x/?gclid="),
          col("doc_id").cast("string")).as("u2"))
      messy.select(col("doc_id"),
          UrlOps.normalizeUrl(col("u1")).as("n1"),
          UrlOps.normalizeUrl(col("u2")).as("n2"))
        .orderBy("doc_id")
    }),

    // ---- winnowing fingerprints (Schleimer et al. SIGMOD'03): substring-
    // level local fingerprinting — each window of w=4 consecutive 8-gram
    // hashes selects its rightmost minimum; per-doc stats fold over the
    // fingerprint array map-side (no shuffle at all). The oracle re-derives
    // the selection independently with window MIN + rightmost-argmin SQL ----
    "q55_winnow" -> ((s, dir) => {
      val fps = winnow_fingerprints(col("text"), 8, 4)
      docsT(s, dir).select(col("doc_id"), fps.as("fps"))
        .where(size(col("fps")) > 0)
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          element_at(col("fps"), 1).as("fp_min"),
          aggregate(col("fps"), lit(0L), (acc, x) => acc.bitwiseXOR(x)).as("fp_xor"))
        .orderBy("doc_id")
    }),

    // ---- composed quality gate: the single keep/drop decision a
    // pre-training pipeline runs — token bounds, duplicate-5-gram
    // repetition, language allowlist, PII density, fixed rule order,
    // first-failing reason. One codegen'd map-side scan; every rule
    // mirrored exactly by the oracle (q22/q45/q46/q49 fragments) ----
    "q52_quality_gate" -> ((s, dir) => {
      vps.text.QualityGate.gate(docsT(s, dir))
        .orderBy("doc_id")
    }),

    // ---- benchmark decontamination: training docs sharing any distinct
    // 13-char-gram with an eval set (every 50th doc here). Eval gram hashes
    // broadcast; train side is a map-side explode + semi-probe — the only
    // shuffle aggregates hit rows. Same shingle pipeline as MinHash, so the
    // oracle replays it in splitmix64-HUGEINT SQL ----
    "q51_decontam" -> ((s, dir) => {
      implicit val spark = s
      val docs = docsT(s, dir)
      // eval side reads the RAW scan (no spread): it keeps 1-in-50 docs and
      // its shingle kernel is trivial, so the docsT repartition exchange +
      // 32-task stage was pure overhead on this branch; the train side keeps
      // the spread for its 15M-row gram explode
      val eval = t(dir, "documents").where(col("doc_id") % 50 === 0).select(col("text"))
      vps.ml.Decontam.contaminatedDocs(docs, eval, idCol = "doc_id", textCol = "text", n = 13)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy("doc_id")
    }),

    // ---- greedy sequence packing: documents -> fixed-token-budget training
    // sequences, bucket-parallel (id-range buckets; global greedy is
    // order-serial by definition). Result is a pure function of
    // (id, tokens) — partitioning/cluster-size independent — so DuckDB
    // replays the identical greedy walk with a recursive CTE ----
    "q50_packing" -> ((s, dir) => {
      val docs = docsT(s, dir).select(col("doc_id"),
        token_count(col("text")).cast("long").as("n_tokens"))
      vps.ml.Packing.packGreedy(docs, "doc_id", "n_tokens", maxTokens = 256L, bucketSize = 64L)
        .select(col("id").as("doc_id"), col("bucket"), col("seq_idx"), col("t_offset"))
        .orderBy("doc_id")
    }),

    // ---- deterministic train/val/test split + seed-stable subsample: the
    // split and the sample flag are pure functions of (doc_id, salt)
    // (splitmix64 -> [0,1)), so the holdout reproduces across runs,
    // partitionings, and cluster sizes — and DuckDB recomputes both
    // bit-for-bit. Map-side only: no shuffle, no driver state ----
    "q48_split" -> ((s, dir) => {
      vps.ml.Sampling.assignSplits(docsT(s, dir), "doc_id", q48Splits)
        .select(col("doc_id"), col("split"),
          (vps.ml.Sampling.uniform(col("doc_id"), salt = 7L) < lit(0.1)).as("in_10pct"))
        .orderBy("doc_id")
    })
  )

  /** q48's named fractions — shared with the oracle so both sides compare
    * against the IDENTICAL cumulative-sum doubles.
    */
  private val q48Splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  // ------------------------------------------------------------------
  // DuckDB oracles. Tables are registered by name over the same sf dir.
  // Span coordinates are recomputed with the same integer formulas.
  // ------------------------------------------------------------------

  /** Both geo spans as a SQL relation: (doc_id-string, id, span_offset, lon, lat). */
  private val geoSpansSql =
    s"""SELECT 'doc' || doc_id AS sdoc_id, doc_id AS id, 1 AS span_offset,
       |       ${InterleavedDocs.lonSql} AS lon, ${InterleavedDocs.latSql} AS lat
       |FROM documents
       |UNION ALL
       |SELECT 'doc' || doc_id, doc_id, 3, ${InterleavedDocs.lon2Sql}, ${InterleavedDocs.lat2Sql}
       |FROM documents WHERE doc_id % 3 = 0""".stripMargin

  private val tileYSql =
    (lat: String, z: Int) =>
      s"CAST(floor((1.0 - ln(tan(radians($lat)) + 1.0/cos(radians($lat)))/pi())/2.0 * ${1 << z}) AS INT)"
  private val tileXSql =
    (lon: String, z: Int) => s"CAST(floor(($lon + 180.0)/360.0 * ${1 << z}) AS INT)"

  // ---- splitmix64-in-SQL builders (q23 precedent; reused by the q15/q16/q17
  // dedup-family mirrors). All 64-bit Java arithmetic becomes HUGEINT mod
  // 2^64; 64x64 multiplies are split into 32-bit halves because a direct
  // product overflows HUGEINT. Unsigned shifts become integer division.
  private val two64 = "18446744073709551616"
  private def mulModSql(z: String, m: Long): String = {
    val lo = m & 0xffffffffL
    val hi = m >>> 32
    s"((($z)*$lo + ((($z)*$hi) % 4294967296) * 4294967296) % $two64)"
  }
  /** Four chained CTEs `<prefix>1..4` applying splitmix64 to `inCol` of
    * `src`, carrying every other column through and emitting `outCol`.
    * Staging through CTE columns (vs one nested expression) keeps each xor
    * operand evaluated once per row on multi-million-row inputs.
    */
  private def mix64StagesSql(src: String, inCol: String, outCol: String, prefix: String): String =
    Seq(
      s"${prefix}1 AS (SELECT * REPLACE ((($inCol) + 11400714819323198485) % $two64 AS $inCol) FROM $src)",
      s"${prefix}2 AS (SELECT * REPLACE (${mulModSql(s"xor($inCol, $inCol // 1073741824)", 0xbf58476d1ce4e5b9L)} AS $inCol) FROM ${prefix}1)",
      s"${prefix}3 AS (SELECT * REPLACE (${mulModSql(s"xor($inCol, $inCol // 134217728)", 0x94d049bb133111ebL)} AS $inCol) FROM ${prefix}2)",
      s"${prefix}4 AS (SELECT *, xor($inCol, $inCol // 2147483648) AS $outCol FROM ${prefix}3)"
    ).mkString(",\n")
  /** Fully inlined splitmix64 (for list-reduce lambdas over small row sets;
    * subexpressions duplicate, so keep off multi-million-row paths).
    */
  private def mix64InlineSql(z: String): String = {
    val s1 = s"((($z) + 11400714819323198485) % $two64)"
    val s2 = mulModSql(s"xor($s1, $s1 // 1073741824)", 0xbf58476d1ce4e5b9L)
    val s3 = mulModSql(s"xor($s2, $s2 // 134217728)", 0x94d049bb133111ebL)
    s"xor($s3, $s3 // 2147483648)"
  }
  private def unsignedLit(v: Long): String = java.lang.Long.toUnsignedString(v)

  /** Winnowing-fingerprint CTE chain (k=8, w=4) from a `(id, text)` relation
    * to `fps (id, h)`: rolling 8-gram polynomial + splitmix64 hashes WITH
    * positions, window MIN over a 4-row frame (HUGEINT = unsigned order,
    * matching the Scala unsigned compare), rightmost argmin via a bounded
    * range join, distinct selected hashes. Shared by q55 and q58.
    */
  private def winnowChainSql(corpusRel: String): String = {
    val poly8 = (1 until 8).foldLeft("cp[i]") { (acc, k) =>
      s"(($acc) * 1315423911 + cp[i+$k]) % $two64"
    }
    s"""cps AS (
       |  SELECT id,
       |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS HUGEINT)) AS cp,
       |    length(text) AS n FROM $corpusRel),
       |h0 AS (
       |  SELECT id, i, $poly8 AS h
       |  FROM (SELECT id, cp, unnest(range(1, greatest(n - 6, 1))) AS i FROM cps)),
       |${mix64StagesSql("h0", "h", "hm", "wn")},
       |hs AS (SELECT id, i, hm AS h FROM wn4),
       |wmn AS (
       |  SELECT id, i, h,
       |    MIN(h) OVER (PARTITION BY id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
       |    COUNT(*) OVER (PARTITION BY id) AS nh
       |  FROM hs),
       |starts AS (SELECT id, i AS ws, mn FROM wmn WHERE i <= greatest(nh - 3, 1)),
       |sel AS (
       |  SELECT s.id, s.ws, MAX(m.i) AS p
       |  FROM starts s JOIN hs m
       |    ON m.id = s.id AND m.i >= s.ws AND m.i <= s.ws + 3 AND m.h = s.mn
       |  GROUP BY 1, 2),
       |fps AS (SELECT DISTINCT s.id, h.h FROM sel s JOIN hs h ON h.id = s.id AND h.i = s.p)""".stripMargin
  }

  /** Z-order spread of the low 16 bits into even positions (SQL mirror of
    * CellId.spread; levels <= 16).
    */
  def oracleSql: Map[String, String] = {
    def spreadExpr(v: String): String = {
      // ((v | v<<8) & 0x00FF00FF00FF00FF) -> s1; (s1|s1<<4)&0x0F0F... -> s2; etc.
      val s1 = s"((($v) | (($v) << 8)) & 71777214294589695)"
      val s2 = s"(($s1 | ($s1 << 4)) & 1085102592571150095)"
      val s3 = s"(($s2 | ($s2 << 2)) & 3689348814741910323)"
      s"(($s3 | ($s3 << 1)) & 6148914691236517205)"
    }
    Map(
      "q01_agg" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q02_join_agg" ->
        """SELECT o_orderpriority,
          |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q03_window_topn" ->
        """SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM (
          |  SELECT o_custkey, o_orderkey,
          |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
      "q04_validity_window" ->
        """SELECT event_id,
          |  CAST(epoch_us(lead(ts, 1) OVER w) AS BIGINT) AS valid_until_us,
          |  CAST(row_number() OVER w - 1 AS INT) AS minor_version
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY event_id""".stripMargin,
      "q05_asof_join" ->
        """SELECT event_id, o_orderkey FROM (
          |  SELECT e.event_id, o.o_orderkey,
          |    row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey) AS rn
          |  FROM events e JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
          |) WHERE rn = 1 ORDER BY event_id""".stripMargin,
      "q06_change_detect" ->
        """SELECT user_id,
          |  CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM (
          |  SELECT user_id,
          |    (lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      IS DISTINCT FROM event_type) AS changed
          |  FROM events)
          |GROUP BY user_id ORDER BY user_id""".stripMargin,
      "q07_span_extract" ->
        s"""SELECT sdoc_id AS doc_id, CAST(span_offset AS INT) AS span_offset,
           |  CAST(round(lon * 10000) AS BIGINT) AS lon_e4,
           |  CAST(round(lat * 10000) AS BIGINT) AS lat_e4
           |FROM ($geoSpansSql) ORDER BY doc_id, span_offset""".stripMargin,
      "q08_tile_assign" ->
        s"""SELECT ${tileXSql("lon", 8)} AS tx, ${tileYSql("lat", 8)} AS ty,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM ($geoSpansSql) WHERE span_offset = 1
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q09_cell_assign" -> {
        val sx = spreadExpr(s"CAST(${tileXSql("lon", 10)} AS BIGINT)")
        val sy = spreadExpr(s"CAST(${tileYSql("lat", 10)} AS BIGINT)")
        s"""SELECT ((CAST(10 AS BIGINT) << 58) | $sx | ($sy << 1)) AS cell,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM ($geoSpansSql)
           |GROUP BY 1 ORDER BY 1""".stripMargin
      },
      "q10_pip_join" ->
        s"""WITH pts AS (SELECT id * 10 + span_offset AS pt_id, lon, lat FROM ($geoSpansSql)),
           | polys AS (
           |  SELECT i AS poly_id,
           |    CAST((i * 97 % 340) - 170 AS DOUBLE) AS lon0,
           |    CAST((i * 61 % 150) - 75 AS DOUBLE) AS lat0
           |  FROM range(40) t(i))
           |SELECT pt_id, poly_id FROM pts JOIN polys
           |  ON lon >= lon0 AND lon <= lon0 + 15 AND lat >= lat0 AND lat <= lat0 + 12
           |ORDER BY pt_id, poly_id""".stripMargin,
      "q11_pip_cell_join" ->
        s"""WITH pts AS (SELECT id * 10 + span_offset AS pt_id, lon, lat FROM ($geoSpansSql)),
           | polys AS (
           |  SELECT i AS poly_id,
           |    CAST((i * 97 % 340) - 170 AS DOUBLE) AS lon0,
           |    CAST((i * 61 % 150) - 75 AS DOUBLE) AS lat0
           |  FROM range(40) t(i))
           |SELECT pt_id, poly_id FROM pts JOIN polys
           |  ON lon >= lon0 AND lon <= lon0 + 15 AND lat >= lat0 AND lat <= lat0 + 12
           |ORDER BY pt_id, poly_id""".stripMargin,
      "q12_knn" ->
        s"""WITH pts AS (SELECT id, lon, lat FROM ($geoSpansSql) WHERE span_offset = 1),
           | qs AS (SELECT * FROM (VALUES (0, 10.0, 20.0), (1, -120.0, -60.0), (2, 179.0, 79.0)) q(query_id, qlon, qlat))
           |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(id AS BIGINT) AS neighbor_id, CAST(rn AS INT) AS rank FROM (
           |  SELECT query_id, id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY (lon - qlon)*(lon - qlon) + (lat - qlat)*(lat - qlat), id) AS rn
           |  FROM pts, qs) WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,
      "q13_tile_pipeline" ->
        s"""SELECT ${tileXSql("lon", 6)} AS x, ${tileYSql("lat", 6)} AS y,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM ($geoSpansSql)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q14_dedup_exact" ->
        """WITH corpus AS (
          |  SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text FROM documents)
          |SELECT md5(text) AS digest, CAST(min(id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n
          |FROM corpus GROUP BY text HAVING count(*) > 1 ORDER BY digest""".stripMargin,
      "q18_knn_embedding" ->
        """WITH qs AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < 5)
          |SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank FROM (
          |  SELECT qs.query_id, e.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY qs.query_id
          |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qs.q AS DOUBLE[])) DESC,
          |               e.vec_id) AS rn
          |  FROM embeddings e, qs) WHERE rn <= 3 ORDER BY query_id, rank""".stripMargin,
      "q19_embed_buckets" ->
        """SELECT CAST((
          |   (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
          | + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
          | + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
          | + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
          | + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END)
          | + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END)
          | + (CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END)
          | + (CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END)) AS BIGINT) AS bucket,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin,
      "q20_token_stats" ->
        """SELECT doc_id,
          |  CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          |  CAST(length(text) AS BIGINT) AS chars,
          |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct
          |FROM documents WHERE length(trim(text)) > 0 ORDER BY doc_id""".stripMargin,
      "q21_hashtags" ->
        """SELECT doc_id, tag FROM (
          |  SELECT doc_id, 'tag' || CAST(doc_id % 5 AS VARCHAR) AS tag FROM documents
          |  UNION ALL SELECT doc_id, 'mixedcase' FROM documents)
          |ORDER BY doc_id, tag""".stripMargin,
      "q24_span_invariant" ->
        """SELECT 'doc' || doc_id AS doc_id, CAST(1 AS BIGINT) AS intact
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q26_tile_layers" ->
        s"""SELECT ${tileXSql("lon", 6)} AS x, ${tileYSql("lat", 6)} AS y,
           |  CASE WHEN span_offset = 1 THEN 'primary' ELSE 'secondary' END AS layer,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM ($geoSpansSql)
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      "q27_minhash_exact" ->
        """WITH corpus AS (
          |  SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text FROM documents)
          |SELECT a.id AS id_a, b.id AS id_b, CAST(1000 AS BIGINT) AS jaccard_e3
          |FROM corpus a JOIN corpus b ON a.text = b.text AND a.id < b.id
          |ORDER BY 1, 2""".stripMargin,
      "q28_dedup_members" ->
        """WITH corpus AS (
          |  SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text FROM documents),
          |g AS (SELECT text, CAST(min(id) AS BIGINT) AS keep_id FROM corpus
          |      GROUP BY text HAVING count(*) > 1)
          |SELECT md5(c.text) AS digest, c.id, g.keep_id
          |FROM corpus c JOIN g USING (text) ORDER BY digest, id""".stripMargin,
      "q29_ivf_knn" ->
        """WITH qs AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < 5)
          |SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank FROM (
          |  SELECT qs.query_id, e.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY qs.query_id
          |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qs.q AS DOUBLE[])) DESC,
          |               e.vec_id) AS rn
          |  FROM embeddings e, qs) WHERE rn <= 3 ORDER BY query_id, rank""".stripMargin,
      "q31_quality" ->
        """SELECT doc_id,
          |  CAST(length(text) AS BIGINT) AS n_chars,
          |  CAST(n_tokens AS BIGINT) AS n_tokens,
          |  CAST(floor(CAST(length(text) AS DOUBLE) / greatest(n_tokens, 1) * 1000) AS BIGINT) AS cpt_e3,
          |  CAST(floor(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
          |       / greatest(length(text), 1) * 100000) AS BIGINT) AS punct_e5
          |FROM (SELECT doc_id, text,
          |        CASE WHEN length(trim(text)) = 0 THEN 0
          |             ELSE length(string_split_regex(trim(text), '\s+')) END AS n_tokens
          |      FROM documents)
          |ORDER BY doc_id""".stripMargin,
      "q32_changesets" ->
        """SELECT i AS changeset_id,
          |  (i * 7919) % 1000 AS uid,
          |  'user' || CAST((i * 7919) % 1000 AS VARCHAR) AS user,
          |  (i % 5 = 0) AS open,
          |  CAST(i % 4 AS BIGINT) AS n_comments,
          |  CAST((i % 4) * (1600000000 + i * 37) + 60 * ((i % 4) * ((i % 4) + 1) / 2) AS BIGINT)
          |    AS sum_comment_ts,
          |  CAST(CASE WHEN i % 5 = 0 THEN 0 ELSE 1600000000 + i * 37 + 3600 END AS BIGINT)
          |    AS closed_at
          |FROM range(2000) t(i) ORDER BY 1""".stripMargin,
      "q33_sessions" ->
        """WITH ev AS (
          |  SELECT 'user' || CAST((((i * 7919) % 1000) + k + 1) % 1000 AS VARCHAR) AS user,
          |         1600000000 + i * 37 + 60 * (k + 1) AS ts
          |  FROM range(2000) t(i), range(3) s(k) WHERE k < i % 4),
          |flagged AS (
          |  SELECT user, ts,
          |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user ORDER BY ts) < 600
          |         THEN 0 ELSE 1 END AS new_s
          |  FROM ev),
          |sess AS (
          |  SELECT user, ts,
          |    sum(new_s) OVER (PARTITION BY user ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM flagged)
          |SELECT user, CAST(min(ts) AS BIGINT) AS session_start,
          |  CAST(max(ts) + 600 AS BIGINT) AS session_end,
          |  CAST(count(*) AS BIGINT) AS n_comments
          |FROM sess GROUP BY user, sid ORDER BY user, session_start""".stripMargin,
      "q34_zonal" ->
        s"""WITH pts AS (SELECT lon, lat FROM ($geoSpansSql)),
           |keyed AS (
           |  SELECT lon, lat,
           |    ${tileXSql("lon", 6)} AS tx, ${tileYSql("lat", 6)} AS ty
           |  FROM pts),
           |cells AS (
           |  SELECT lon, lat, tx, ty,
           |    (tx / 64.0) * 360.0 - 180.0 AS lon_min,
           |    ((tx + 1) / 64.0) * 360.0 - 180.0 AS lon_max,
           |    degrees(atan((exp(pi() * (1.0 - (2.0 * ty) / 64.0)) - exp(-(pi() * (1.0 - (2.0 * ty) / 64.0)))) / 2.0)) AS lat_top,
           |    degrees(atan((exp(pi() * (1.0 - (2.0 * (ty + 1.0)) / 64.0)) - exp(-(pi() * (1.0 - (2.0 * (ty + 1.0)) / 64.0)))) / 2.0)) AS lat_bot
           |  FROM keyed),
           |binned AS (
           |  SELECT tx, ty, lon_min, lat_top,
           |    (lon_max - lon_min) / 16.0 AS dx,
           |    (lat_top - lat_bot) / 16.0 AS dy,
           |    LEAST(15, GREATEST(0, CAST(floor((lon - lon_min) / ((lon_max - lon_min) / 16.0)) AS INT))) AS ci,
           |    LEAST(15, GREATEST(0, CAST(floor((lat_top - lat) / ((lat_top - lat_bot) / 16.0)) AS INT))) AS cj
           |  FROM cells),
           |counts AS (
           |  SELECT tx, ty, ci, cj,
           |    min(lon_min + (ci + 0.5) * dx) AS cx,
           |    min(lat_top - (cj + 0.5) * dy) AS cy,
           |    count(*) AS v
           |  FROM binned GROUP BY tx, ty, ci, cj),
           |zones AS (
           |  SELECT i AS zone_id,
           |    CAST((i * 97 % 340) - 170 AS DOUBLE) AS lon0,
           |    CAST((i * 61 % 150) - 75 AS DOUBLE) AS lat0
           |  FROM range(40) t(i))
           |SELECT zone_id, CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(v) AS BIGINT) AS sum_w
           |FROM counts JOIN zones
           |  ON cx >= lon0 AND cx <= lon0 + 15 AND cy >= lat0 AND cy <= lat0 + 12
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q35_components" ->
        // gaps-and-islands: consecutive present ids within a 16-block share
        // (id - row_number), so the component is the island minimum — this
        // mirrors the Spark side's partner-must-exist pair construction even
        // if doc_id ever has gaps; islands of size 1 have no pairs and are
        // excluded on both sides
        """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |isl AS (
          |  SELECT id, id - row_number() OVER (PARTITION BY id // 16 ORDER BY id) AS grp
          |  FROM ids),
          |comp AS (
          |  SELECT id,
          |    min(id) OVER (PARTITION BY id // 16, grp) AS component,
          |    count(*) OVER (PARTITION BY id // 16, grp) AS n
          |  FROM isl)
          |SELECT id, component FROM comp WHERE n > 1 ORDER BY id""".stripMargin,
      "q36_neardup_members" ->
        """WITH corpus AS (
          |  SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text FROM documents),
          |g AS (SELECT text, CAST(min(id) AS BIGINT) AS keep_id FROM corpus
          |      GROUP BY text HAVING count(*) > 1)
          |SELECT c.id, g.keep_id FROM corpus c JOIN g USING (text) ORDER BY id""".stripMargin,
      "q37_diff_tag_change" ->
        """SELECT i AS id,
          |  CAST(i % 3 + 1 AS INT) AS element_type,
          |  CAST(CASE WHEN i % 7 = 0 THEN 1 ELSE i % 5 + 2 END AS INT) AS version,
          |  (i % 7 != 0 AND i % 11 = 0) AS minor_version,
          |  (i % 7 != 0 AND i % 11 != 0 AND i % 3 = 0) AS tags_changed,
          |  (i % 7 != 0) AS geom_changed,
          |  CAST(CASE WHEN i % 3 + 1 = 2 THEN 3 ELSE 0 END AS BIGINT) AS n_nds,
          |  CAST(CASE WHEN i % 7 = 0 THEN -1
          |            WHEN i % 3 + 1 = 2 THEN 2 ELSE 0 END AS BIGINT) AS n_prev_nds,
          |  (i % 13 = 0) AS deleted,
          |  CAST(CASE WHEN i % 7 = 0 THEN 0
          |            WHEN i % 11 = 0 THEN i % 5 + 2
          |            ELSE i % 5 + 1 END AS INT) AS prev_version,
          |  CAST(i % 10 AS VARCHAR) AS tag_v,
          |  CASE WHEN i % 7 = 0 THEN '-'
          |       WHEN i % 11 != 0 AND i % 3 = 0 THEN CAST((i + 1) % 10 AS VARCHAR)
          |       ELSE CAST(i % 10 AS VARCHAR) END AS prev_tag_v
          |FROM range(2000) t(i) ORDER BY id""".stripMargin,
      "q39_dirty_tiles" -> {
        val lon = "CAST(i * 9973 % 3600000 - 1800000 AS DOUBLE) / 10000.0"
        val plon = "CAST((i * 9973 + 500) % 3600000 - 1800000 AS DOUBLE) / 10000.0"
        val lat = "CAST(i * 6151 % 1600000 - 800000 AS DOUBLE) / 10000.0"
        s"""WITH touched AS (
           |  SELECT ${tileXSql(lon, 6)} AS x, ${tileYSql(lat, 6)} AS y
           |  FROM range(2000) t(i)
           |  UNION ALL
           |  SELECT ${tileXSql(plon, 6)}, ${tileYSql(lat, 6)}
           |  FROM range(2000) t(i) WHERE i % 7 != 0)
           |SELECT x, y, CAST(count(*) AS BIGINT) AS n_changes
           |FROM touched GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      },
      "q38_reproject" ->
        s"""SELECT sdoc_id AS doc_id, CAST(span_offset AS INT) AS span_offset,
           |  CAST(round(lon / 180.0 * 20037508.342789244 * 100) AS BIGINT) AS mx_e2,
           |  CAST(round(ln(tan((90.0 + lat) * pi() / 360.0)) * 6378137.0 * 100) AS BIGINT) AS my_e2
           |FROM ($geoSpansSql) ORDER BY doc_id, span_offset""".stripMargin,
      "q30_geocode" ->
        s"""WITH pts AS (SELECT id * 10 + span_offset AS pt_id, lon, lat FROM ($geoSpansSql)),
           | polys AS (
           |  SELECT i AS poly_id,
           |    CAST((i * 97 % 340) - 170 AS DOUBLE) AS lon0,
           |    CAST((i * 61 % 150) - 75 AS DOUBLE) AS lat0
           |  FROM range(40) t(i))
           |SELECT pt_id, 'r' || CAST(poly_id AS VARCHAR) AS region FROM pts JOIN polys
           |  ON lon >= lon0 AND lon <= lon0 + 15 AND lat >= lat0 AND lat <= lat0 + 12
           |ORDER BY pt_id, region""".stripMargin,
      "q25_media_decode" -> {
        import vps.media.MediaPipeline._
        s"""SELECT 'doc' || CAST(doc_id AS VARCHAR) AS doc_id,
           |  CASE WHEN $corruptSql THEN NULL ELSE 'image' END AS media_kind,
           |  CASE WHEN $corruptSql THEN NULL ELSE $widthSql END AS width,
           |  CASE WHEN $corruptSql THEN NULL ELSE $heightSql END AS height,
           |  CASE WHEN $corruptSql THEN NULL ELSE 3 END AS channels,
           |  CASE WHEN $corruptSql THEN NULL ELSE $redSql END AS mean_r,
           |  CASE WHEN $corruptSql THEN NULL ELSE $greenSql END AS mean_g,
           |  CASE WHEN $corruptSql THEN NULL ELSE $blueSql END AS mean_b,
           |  NOT ($corruptSql) AS decode_ok
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "q45_token_bpe" -> {
        val pat = vps.text.functions.BpeTokenPattern
        s"""SELECT doc_id,
           |  CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
           |       ELSE CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           |  END AS ws_tokens,
           |  CAST(length(regexp_extract_all(text, '$pat')) AS BIGINT) AS bpe_tokens
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "q46_repetition" -> {
        def rep(n: Int) =
          s"""CASE WHEN length(text) - ${n - 1} <= 0 THEN CAST(0 AS BIGINT)
             |    ELSE CAST(floor((1.0 - CAST(len(list_distinct(list_transform(
             |           generate_series(1, length(text) - ${n - 1}),
             |           i -> substr(text, i, $n)))) AS DOUBLE)
             |         / (length(text) - ${n - 1})) * 100000) AS BIGINT) END""".stripMargin
        s"""SELECT doc_id,
           |  ${rep(5)} AS rep5_e5,
           |  ${rep(10)} AS rep10_e5
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "q47_gif_frames" -> {
        import vps.media.MediaPipeline._
        s"""WITH ok AS (
           |  SELECT doc_id, $gifFramesSql AS n_frames
           |  FROM documents WHERE NOT ($corruptSql)),
           |frames AS (
           |  SELECT doc_id, n_frames, unnest(range(0, n_frames, 2)) AS frame_idx FROM ok)
           |SELECT 'doc' || CAST(doc_id AS VARCHAR) AS doc_id,
           |  frame_idx, n_frames,
           |  $widthSql AS width, $heightSql AS height,
           |  $frameRedSql AS mean_r, $frameGreenSql AS mean_g, $frameBlueSql AS mean_b,
           |  TRUE AS decode_ok
           |FROM frames
           |UNION ALL
           |SELECT 'doc' || CAST(doc_id AS VARCHAR), NULL, NULL, NULL, NULL, NULL, NULL, NULL, FALSE
           |FROM documents WHERE $corruptSql
           |ORDER BY 1, 2""".stripMargin
      },
      "q41_simhash_exact" ->
        """WITH corpus AS (
          |  SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text FROM documents)
          |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS hamming
          |FROM corpus a JOIN corpus b ON a.text = b.text AND a.id < b.id
          |ORDER BY 1, 2""".stripMargin,
      "q43_audio_decode" -> {
        import vps.media.AudioPipeline._
        s"""SELECT 'doc' || CAST(doc_id AS VARCHAR) AS doc_id,
           |  CASE WHEN $corruptSql THEN NULL ELSE $SampleRate END AS sample_rate,
           |  CASE WHEN $corruptSql THEN NULL ELSE 1 END AS channels,
           |  CASE WHEN $corruptSql THEN NULL ELSE 16 END AS bits,
           |  CASE WHEN $corruptSql THEN NULL ELSE $nSamplesSql END AS n_samples,
           |  CASE WHEN $corruptSql THEN NULL ELSE $amplitudeSql END AS peak,
           |  CASE WHEN $corruptSql THEN NULL ELSE 0 END AS mean_amp,
           |  NOT ($corruptSql) AS decode_ok
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "q44_media_resize" ->
        """WITH m AS (
          |  SELECT doc_id,
          |    16 + (doc_id * 37) % 48 AS w,
          |    16 + (doc_id * 53) % 48 AS h
          |  FROM documents WHERE doc_id % 17 <> 0)
          |SELECT 'doc' || CAST(doc_id AS VARCHAR) AS doc_id,
          |  CASE WHEN w <= 24 AND h <= 24 THEN w
          |       WHEN w >= h THEN 24
          |       ELSE greatest(1, (w * 24) // h) END AS width,
          |  CASE WHEN w <= 24 AND h <= 24 THEN h
          |       WHEN w >= h THEN greatest(1, (h * 24) // w)
          |       ELSE 24 END AS height,
          |  (doc_id * 101) % 256 AS mean_r,
          |  (doc_id * 151) % 256 AS mean_g,
          |  (doc_id * 197) % 256 AS mean_b
          |FROM m ORDER BY doc_id""".stripMargin,
      // stopword-profile language id mirrored in SQL: score = occurrences of
      // each profile's stopwords among the first 500 whitespace tokens
      // (duplicates counted, matching tokens.count), argmax with the
      // documented en>es>de>fr>it tie order via cascaded >=
      "q22_langid" ->
        """WITH toks AS (
          |  SELECT doc_id, list_slice(string_split_regex(lower(text), '\s+'), 1, 500) AS tk
          |  FROM documents),
          |scores AS (
          |  SELECT doc_id,
          |    len(list_filter(tk, t -> t IN ('the','and','of','to','in','is','that','it','for','with','was','on'))) AS s_en,
          |    len(list_filter(tk, t -> t IN ('el','la','de','que','y','en','los','del','las','por','un','para'))) AS s_es,
          |    len(list_filter(tk, t -> t IN ('der','die','und','das','von','zu','mit','den','im','für','ist','des'))) AS s_de,
          |    len(list_filter(tk, t -> t IN ('le','la','les','de','des','et','en','un','une','du','que','est'))) AS s_fr,
          |    len(list_filter(tk, t -> t IN ('il','di','che','la','per','non','con','una','del','gli','più','nel'))) AS s_it
          |  FROM toks),
          |lang AS (
          |  SELECT CASE
          |    WHEN greatest(s_en,s_es,s_de,s_fr,s_it) = 0 THEN 'und'
          |    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_it THEN 'en'
          |    WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_it THEN 'es'
          |    WHEN s_de >= s_fr AND s_de >= s_it THEN 'de'
          |    WHEN s_fr >= s_it THEN 'fr'
          |    ELSE 'it' END AS lang
          |  FROM scores)
          |SELECT lang, count(*) AS n FROM lang GROUP BY lang ORDER BY lang""".stripMargin,
      // rolling-hash fingerprint mirrored in SQL: the polynomial fold runs
      // over UTF-16 code units == unicode codepoints (corpus is ASCII;
      // list_reduce over string_split), and the splitmix64 finalizer is
      // HUGEINT arithmetic mod 2^64 with the multiplies split into 32-bit
      // halves (a direct 64x64 product overflows HUGEINT)
      "q23_fingerprint" -> {
        val two64 = "18446744073709551616"
        def mulMod(z: String, m: Long): String = {
          val lo = m & 0xffffffffL
          val hi = m >>> 32
          s"((($z)*$lo + ((($z)*$hi) % 4294967296) * 4294967296) % $two64)"
        }
        s"""WITH h0 AS (
           |  SELECT doc_id, list_reduce(
           |    list_prepend(CAST(0 AS HUGEINT),
           |      list_transform(string_split(text, ''), c -> CAST(unicode(c) AS HUGEINT))),
           |    (h, c) -> (h * 1315423911 + c) % $two64) AS h
           |  FROM documents),
           |m1 AS (SELECT doc_id, (h + 11400714819323198485) % $two64 AS z FROM h0),
           |m2 AS (SELECT doc_id, ${mulMod("xor(z, z // 1073741824)", 0xbf58476d1ce4e5b9L)} AS z FROM m1),
           |m3 AS (SELECT doc_id, ${mulMod("xor(z, z // 134217728)", 0x94d049bb133111ebL)} AS z FROM m2),
           |m4 AS (SELECT doc_id, xor(z, z // 2147483648) AS z FROM m3)
           |SELECT doc_id,
           |  CAST(CASE WHEN z >= 9223372036854775808 THEN z - $two64 ELSE z END AS BIGINT) AS fp
           |FROM m4 ORDER BY doc_id""".stripMargin
      },
      // dissolve oracle: union area by coordinate-compressed grid sweep,
      // part count by recursive min-label propagation over rectangle
      // edge/area connectivity (corner-only touches excluded — none exist in
      // this fixture — matching JTS's merge semantics)
      "q40_dissolve" ->
        """WITH RECURSIVE p AS (
          |  SELECT range AS poly_id, range % 5 AS grp,
          |         CAST((range*37) % 100 - 50 AS DOUBLE) AS x0, CAST((range*53) % 80 - 40 AS DOUBLE) AS y0,
          |         CAST((range*37) % 100 - 30 AS DOUBLE) AS x1, CAST((range*53) % 80 - 24 AS DOUBLE) AS y1
          |  FROM range(0, 60)),
          |xs AS (SELECT DISTINCT grp, x FROM (SELECT grp, x0 AS x FROM p UNION ALL SELECT grp, x1 FROM p)),
          |xi AS (SELECT grp, x AS xa, lead(x) OVER (PARTITION BY grp ORDER BY x) AS xb FROM xs),
          |ys AS (SELECT DISTINCT grp, y FROM (SELECT grp, y0 AS y FROM p UNION ALL SELECT grp, y1 FROM p)),
          |yi AS (SELECT grp, y AS ya, lead(y) OVER (PARTITION BY grp ORDER BY y) AS yb FROM ys),
          |cells AS (SELECT xi.grp, xa, xb, ya, yb FROM xi JOIN yi ON xi.grp = yi.grp
          |          WHERE xb IS NOT NULL AND yb IS NOT NULL),
          |cov AS (SELECT DISTINCT c.grp, c.xa, c.xb, c.ya, c.yb FROM cells c JOIN p
          |        ON p.grp = c.grp AND p.x0 <= c.xa AND c.xb <= p.x1 AND p.y0 <= c.ya AND c.yb <= p.y1),
          |area AS (SELECT grp, SUM((xb-xa)*(yb-ya)) AS a FROM cov GROUP BY grp),
          |edges AS (SELECT a.poly_id AS u, b.poly_id AS v FROM p a JOIN p b
          |          ON a.grp = b.grp AND a.poly_id <> b.poly_id
          |          AND LEAST(a.x1,b.x1) - GREATEST(a.x0,b.x0) >= 0
          |          AND LEAST(a.y1,b.y1) - GREATEST(a.y0,b.y0) >= 0
          |          AND (LEAST(a.x1,b.x1) - GREATEST(a.x0,b.x0) > 0
          |            OR LEAST(a.y1,b.y1) - GREATEST(a.y0,b.y0) > 0)),
          |reach AS (SELECT poly_id AS id, poly_id AS lab FROM p
          |          UNION
          |          SELECT e.u AS id, r.lab FROM reach r JOIN edges e ON e.v = r.id),
          |comp AS (SELECT id, MIN(lab) AS lab FROM reach GROUP BY id),
          |nparts AS (SELECT p.grp AS grp, COUNT(DISTINCT c.lab) AS n FROM comp c JOIN p ON p.poly_id = c.id GROUP BY p.grp)
          |SELECT a.grp AS grp, CAST(FLOOR(a.a*100) AS BIGINT) AS area_e2, CAST(nparts.n AS BIGINT) AS n_parts
          |FROM area a JOIN nparts ON a.grp = nparts.grp ORDER BY grp""".stripMargin,
      // embedding near-dup membership: the oracle is the FULL all-pairs
      // cosine graph (>= 0.98, DOUBLE precision) with connected components
      // by recursive min-label propagation — it independently re-derives
      // both the pair discovery the LSH path must not miss and the
      // grouping the distributed CC must produce
      "q42_embed_members" ->
        """WITH RECURSIVE base AS (
          |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |corpus AS (
          |  SELECT CAST(vec_id AS BIGINT) AS id, v FROM base
          |  UNION ALL SELECT CAST(vec_id + 200000 AS BIGINT), v FROM base WHERE vec_id < 100
          |  UNION ALL SELECT CAST(vec_id + 400000 AS BIGINT), v FROM base WHERE vec_id < 100),
          |pairs AS (
          |  SELECT a.id AS u, b.id AS w FROM corpus a JOIN corpus b
          |  ON a.id < b.id AND list_cosine_similarity(a.v, b.v) >= 0.98),
          |nodes AS (SELECT DISTINCT id FROM (SELECT u AS id FROM pairs UNION ALL SELECT w AS id FROM pairs)),
          |edges AS (SELECT u, w FROM pairs UNION ALL SELECT w AS u, u AS w FROM pairs),
          |reach AS (SELECT id, id AS lab FROM nodes
          |          UNION
          |          SELECT e.u AS id, r.lab FROM reach r JOIN edges e ON e.w = r.id)
          |SELECT id, CAST(MIN(lab) AS BIGINT) AS keep_id FROM reach GROUP BY id ORDER BY id""".stripMargin,
      // Full LSH-pipeline mirror: simhash (token hash -> 64 sign-sum bits),
      // 4x16-bit band blocking, hamming <= 3 verify — every 64-bit step in
      // HUGEINT mod 2^64 (see the mix64 builders above). Token split mirrors
      // TextOps.simhash exactly: only space/tab/newline separate, empties
      // skipped; bit b set iff its +-1 count is strictly positive.
      "q16_simhash" ->
        s"""WITH RECURSIVE pw AS (
           |  SELECT 0 AS b, CAST(1 AS HUGEINT) AS p UNION ALL SELECT b+1, p*2 FROM pw WHERE b < 63),
           |corpus AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL SELECT doc_id + 100000, text FROM documents),
           |tok AS (
           |  SELECT id, unnest(list_filter(string_split_regex(text, '[ \\t\\n]'), t -> t <> '')) AS tk
           |  FROM corpus),
           |th AS (
           |  SELECT id, list_reduce(
           |    list_prepend(CAST(0 AS HUGEINT),
           |      list_transform(string_split(tk, ''), c -> CAST(unicode(c) AS HUGEINT))),
           |    (h, c) -> (h * 31 + c) % $two64) AS h FROM tok),
           |${mix64StagesSql("th", "h", "z", "tm")},
           |bitsum AS (
           |  SELECT id, pw.b AS b, pw.p AS p,
           |    SUM(CASE WHEN (z // pw.p) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
           |  FROM tm4 CROSS JOIN pw GROUP BY 1, 2, 3),
           |sig AS (
           |  SELECT id, CAST(SUM(CASE WHEN cnt > 0 THEN p ELSE 0 END) AS HUGEINT) AS sig
           |  FROM bitsum GROUP BY id),
           |sigb AS (
           |  SELECT id,
           |    CAST(CASE WHEN sig >= 9223372036854775808 THEN sig - $two64 ELSE sig END AS BIGINT) AS s,
           |    sig FROM sig),
           |bands AS (
           |  SELECT id, s, unnest([0,1,2,3]) AS band,
           |    unnest([sig % 65536, (sig // 65536) % 65536, (sig // 4294967296) % 65536, (sig // 281474976710656) % 65536]) AS bucket
           |  FROM sigb),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, bit_count(xor(a.s, b.s)) AS hamming
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
           |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
      // Full MinHash+LSH mirror: 5-gram polynomial rolling hash (the mod-2^64
      // fold equals the rolling recurrence exactly), 64 splitmix64 lanes with
      // SIGNED mins (Java Long compare), 16 chained band hashes, in-bucket
      // pairs, and the exact distinct-shingle Jaccard verify — floor(j*1000)
      // reproduces the IEEE double division bit-for-bit. Lane mixes are
      // computed once per GLOBALLY-distinct shingle hash (shd) and joined
      // back — a pure function of sh, so mins are unchanged; 5x less mulmod
      // work on the corpus-sized lane stream (30 s -> 6 s at sf0.01).
      "q15_minhash_lsh" -> {
        val laneC = unsignedLit(0xa54ff53a5f1d36f1L)
        val poly = (1 until 5).foldLeft("cp[i]") { (acc, k) =>
          s"(($acc) * 1315423911 + cp[i+$k]) % $two64"
        }
        s"""WITH corpus AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL SELECT doc_id + 100000, text || ' tiny suffix' FROM documents),
           |cps AS (
           |  SELECT id, list_transform(string_split(text, ''), c -> CAST(unicode(c) AS HUGEINT)) AS cp,
           |    length(text) AS n FROM corpus),
           |w0 AS (
           |  SELECT id, $poly AS h
           |  FROM (SELECT id, cp, unnest(range(1, greatest(n - 3, 1))) AS i FROM cps)),
           |${mix64StagesSql("w0", "h", "sh", "wm")},
           |sh AS (SELECT DISTINCT id, sh FROM wm4),
           |shd AS (SELECT DISTINCT sh FROM sh),
           |lz AS (
           |  SELECT sh, j, xor(sh, (j * $laneC) % $two64) AS z
           |  FROM shd CROSS JOIN (SELECT unnest(range(0, 64)) AS j)),
           |${mix64StagesSql("lz", "z", "zm", "lm")},
           |lv AS (
           |  SELECT sh, j,
           |    CASE WHEN zm >= 9223372036854775808 THEN zm - $two64 ELSE zm END AS v
           |  FROM lm4),
           |mins AS (
           |  SELECT s.id, l.j, MIN(l.v) AS sig_s
           |  FROM sh s JOIN lv l ON l.sh = s.sh GROUP BY 1, 2),
           |sigl AS (
           |  SELECT id, CAST(j // 4 AS INTEGER) AS band,
           |    list(CASE WHEN sig_s < 0 THEN sig_s + $two64 ELSE sig_s END ORDER BY j) AS sigs
           |  FROM mins GROUP BY id, j // 4),
           |buckets AS (
           |  SELECT id, band, list_reduce(
           |    list_prepend(CAST(1099511628211 AS HUGEINT) * (band + 1), sigs),
           |    (h, s) -> ${mix64InlineSql("xor(h, s)")}) AS bucket
           |  FROM sigl),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
           |cnt AS (SELECT id, count(*) AS c FROM sh GROUP BY id),
           |inter AS (
           |  SELECT p.id_a, p.id_b, count(*) AS i
           |  FROM cand p JOIN sh sa ON sa.id = p.id_a JOIN sh sb ON sb.id = p.id_b AND sb.sh = sa.sh
           |  GROUP BY 1, 2),
           |jac AS (
           |  SELECT x.id_a, x.id_b,
           |    CAST(x.i AS DOUBLE) / CAST(ca.c + cb.c - x.i AS DOUBLE) AS j
           |  FROM inter x JOIN cnt ca ON ca.id = x.id_a JOIN cnt cb ON cb.id = x.id_b)
           |SELECT id_a, id_b, CAST(FLOOR(j * 1000) AS BIGINT) AS jaccard_e3
           |FROM jac WHERE j >= 0.6 ORDER BY id_a, id_b""".stripMargin
      },
      // Full hyperplane-LSH mirror: the 128x64 plane weights are splitmix64
      // derivations scaled by exact powers of two; projection dots fold left
      // in list order (double), the cosine verify multiplies in FLOAT then
      // accumulates in DOUBLE — both matching the Scala loops' IEEE ops
      // exactly, so floor(cos*1e6) is bit-reproducible.
      "q17_embed_neardup" -> {
        val a2 = unsignedLit(0x9e3779b97f4a7c15L)
        val b2 = unsignedLit(0xc2b2ae3d27d4eb4fL)
        val c2 = unsignedLit(0x165667b19e3779f9L)
        s"""WITH base AS (
           |  SELECT vec_id AS id, embedding AS v FROM embeddings),
           |corpus AS (
           |  SELECT id, v FROM base
           |  UNION ALL SELECT id + 900000, v FROM base WHERE id < 20),
           |parg AS (
           |  SELECT p, d, ((p * $a2) % $two64 + (d * $b2) % $two64 + $c2) % $two64 AS h
           |  FROM (SELECT unnest(range(0, 128)) AS p) CROSS JOIN (SELECT unnest(range(0, 64)) AS d)),
           |${mix64StagesSql("parg", "h", "z", "pm")},
           |plw AS (
           |  SELECT p, list((CAST(z // 2048 AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0 ORDER BY d) AS w
           |  FROM pm4 GROUP BY p),
           |dots AS (
           |  SELECT c.id, pw.p, list_reduce(
           |    list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(list_zip(CAST(c.v AS DOUBLE[]), pw.w), x -> x[1] * x[2])),
           |    (a, b) -> a + b) AS dot
           |  FROM corpus c CROSS JOIN plw pw),
           |buckets AS (
           |  SELECT id, CAST(p // 16 AS INTEGER) AS band,
           |    SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << CAST(p % 16 AS INTEGER) ELSE 0 END) AS bucket
           |  FROM dots GROUP BY 1, 2),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
           |norms AS (
           |  SELECT id, list_reduce(
           |    list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(list_zip(v, v), x -> x[1] * x[2])),
           |    (a, b) -> a + b) AS nn
           |  FROM corpus),
           |cos AS (
           |  SELECT p.id_a, p.id_b,
           |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
           |         ELSE list_reduce(
           |           list_prepend(CAST(0.0 AS DOUBLE),
           |             list_transform(list_zip(ca.v, cb.v), x -> x[1] * x[2])),
           |           (a, b) -> a + b) / sqrt(na.nn * nb.nn) END AS c
           |  FROM cand p
           |  JOIN corpus ca ON ca.id = p.id_a JOIN corpus cb ON cb.id = p.id_b
           |  JOIN norms na ON na.id = p.id_a JOIN norms nb ON nb.id = p.id_b)
           |SELECT id_a, id_b, CAST(FLOOR(c * 1000000) AS BIGINT) AS cos_e6
           |FROM cos WHERE c >= 0.999 ORDER BY id_a, id_b""".stripMargin
      },
      // Deterministic split/sample mirror: splitmix64(doc_id ^ salt) >> 11
      // scaled by 2^-53 (exact power-of-two scaling), compared against the
      // Scala-side cumulative cut points interpolated verbatim.
      "q48_split" -> {
        val cuts = vps.ml.Sampling.cumulativeCuts(q48Splits)
        s"""WITH d0 AS (SELECT doc_id, CAST(doc_id AS HUGEINT) AS h FROM documents),
           |${mix64StagesSql("d0", "h", "z0", "sa")},
           |d7 AS (SELECT doc_id, z0, xor(CAST(doc_id AS HUGEINT), 7) AS h2 FROM sa4),
           |${mix64StagesSql("d7", "h2", "z7", "sb")},
           |u AS (SELECT doc_id,
           |  CAST(z0 // 2048 AS DOUBLE) / 9007199254740992.0 AS u0,
           |  CAST(z7 // 2048 AS DOUBLE) / 9007199254740992.0 AS u7 FROM sb4)
           |SELECT doc_id,
           |  CASE WHEN u0 < ${cuts(0)._2} THEN '${cuts(0)._1}'
           |       WHEN u0 < ${cuts(1)._2} THEN '${cuts(1)._1}'
           |       ELSE '${cuts(2)._1}' END AS split,
           |  u7 < 0.1 AS in_10pct
           |FROM u ORDER BY doc_id""".stripMargin
      },
      // PII mirror: the SAME lookahead-free patterns (shared constants), the
      // same planted concatenation, the same email -> phone -> IP replace
      // order; counts run on the pre-redaction text on both sides.
      "q49_redact" -> {
        import vps.text.Redact._
        s"""WITH pii AS (
           |  SELECT doc_id,
           |    'reach doc' || doc_id || '@example.com or +1-555-' ||
           |    lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ||
           |    ' at 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 ' || text AS t
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(length(regexp_extract_all(t, '$EmailPattern')) AS BIGINT) AS n_email,
           |  CAST(length(regexp_extract_all(t, '$PhonePattern')) AS BIGINT) AS n_phone,
           |  CAST(length(regexp_extract_all(t, '$Ipv4Pattern')) AS BIGINT) AS n_ip,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '$EmailPattern', '$EmailToken', 'g'),
           |    '$PhonePattern', '$PhoneToken', 'g'),
           |    '$Ipv4Pattern', '$IpToken', 'g') AS redacted
           |FROM pii ORDER BY doc_id""".stripMargin
      },
      // Packing mirror: identical ws-token counts (the q45 formula), then the
      // same greedy walk replayed one row per recursion step within each
      // bucket (row_number joins make it a linear scan, bucketSize=64 steps).
      "q50_packing" ->
        """WITH RECURSIVE toks AS (
          |  SELECT doc_id,
          |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
          |         ELSE CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT)
          |    END AS tok,
          |    doc_id // 64 AS bucket
          |  FROM documents),
          |o AS (SELECT doc_id, tok, bucket,
          |        row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
          |      FROM toks),
          |walk AS (
          |  SELECT bucket, rn, doc_id,
          |    CAST(0 AS BIGINT) AS seq_idx, CAST(0 AS BIGINT) AS t_offset, tok AS cum
          |  FROM o WHERE rn = 1
          |  UNION ALL
          |  SELECT o.bucket, o.rn, o.doc_id,
          |    CASE WHEN w.cum > 0 AND w.cum + o.tok > 256 THEN w.seq_idx + 1 ELSE w.seq_idx END,
          |    CASE WHEN w.cum > 0 AND w.cum + o.tok > 256 THEN 0 ELSE w.cum END,
          |    CASE WHEN w.cum > 0 AND w.cum + o.tok > 256 THEN o.tok ELSE w.cum + o.tok END
          |  FROM walk w JOIN o ON o.bucket = w.bucket AND o.rn = w.rn + 1)
          |SELECT doc_id, bucket, seq_idx, t_offset FROM walk ORDER BY doc_id""".stripMargin,
      // Decontamination mirror: identical 13-gram rolling-hash+splitmix64
      // pipeline (the q15 shingle machinery at n=13), distinct per doc, eval
      // set = every 50th doc, inner join + count.
      "q51_decontam" -> {
        val poly13 = (1 until 13).foldLeft("cp[i]") { (acc, k) =>
          s"(($acc) * 1315423911 + cp[i+$k]) % $two64"
        }
        s"""WITH cps AS (
           |  SELECT doc_id, list_transform(string_split(text, ''), c -> CAST(unicode(c) AS HUGEINT)) AS cp,
           |    length(text) AS n FROM documents),
           |w0 AS (
           |  SELECT doc_id, $poly13 AS h
           |  FROM (SELECT doc_id, cp, unnest(range(1, greatest(n - 11, 1))) AS i FROM cps)),
           |${mix64StagesSql("w0", "h", "g", "dm")},
           |grams AS (SELECT DISTINCT doc_id, g FROM dm4),
           |eg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
           |FROM grams JOIN eg USING (g)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      // Quality-gate mirror: ws tokens (q45 fragment), duplicate-5-gram
      // repetition (q46 fragment, raw double), stopword-argmax langid (q22
      // fragment, per doc), PII counts (q49 patterns on the raw text), then
      // the identical first-failing CASE — thresholds are raw doubles, so
      // the IEEE compares match bit-for-bit.
      // Line-dedup mirror: identical newline-joined construction, distinct
      // (line, doc) frequency, anti-join, order-preserving reassembly via
      // string_agg(... ORDER BY pos).
      "q57_line_dedup" ->
        s"""WITH src AS (
           |  SELECT doc_id, 'shared banner for ' || source || chr(10) ||
           |    'doc ' || CAST(doc_id AS VARCHAR) || ' unique' || chr(10) || text AS t
           |  FROM documents),
           |lines AS (
           |  SELECT doc_id,
           |    unnest(range(len(string_split(t, chr(10))))) AS pos,
           |    unnest(string_split(t, chr(10))) AS line
           |  FROM src),
           |boiler AS (
           |  SELECT line FROM (
           |    SELECT line, count(*) AS df
           |    FROM (SELECT DISTINCT line, doc_id FROM lines) GROUP BY line)
           |  WHERE df >= 5),
           |kept AS (
           |  SELECT l.doc_id, l.pos, l.line FROM lines l
           |  LEFT JOIN boiler b ON l.line = b.line WHERE b.line IS NULL),
           |agg AS (
           |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
           |    CAST(count(*) AS BIGINT) AS n_kept
           |  FROM kept GROUP BY doc_id),
           |tot AS (SELECT doc_id,
           |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_total FROM src)
           |SELECT t.doc_id, coalesce(a.text, '') AS text,
           |  coalesce(a.n_kept, 0) AS n_kept,
           |  t.n_total - coalesce(a.n_kept, 0) AS n_dropped
           |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin,
      // Normalization mirror: the identical lookahead-free patterns in the
      // identical rule order; RE2 replacements use \n backrefs + the 'g'
      // flag where Java's replaceAll is implicitly global.
      "q56_url_normalize" -> {
        val track = "(utm_[A-Za-z]+|gclid|fbclid)=[^&]*"
        def norm(u: String): String = {
          val noFrag = s"regexp_replace($u, '#.*', '')"
          val lowered = s"lower(regexp_extract($noFrag, '(?i)^(https?://[^/?#]*)', 1)) || " +
            s"regexp_replace($noFrag, '(?i)^https?://[^/?#]*', '')"
          val noPort = s"regexp_replace(regexp_replace($lowered, " +
            s"'^(http://[^/:?#]+):80([/?]|$$)', '\\1\\2'), " +
            s"'^(https://[^/:?#]+):443([/?]|$$)', '\\1\\2')"
          val noTrack = s"regexp_replace(regexp_replace($noPort, '&$track', '', 'g'), " +
            s"'\\?$track&', '?')"
          val tidy = s"regexp_replace(regexp_replace($noTrack, '\\?$track$$', ''), '\\?$$', '')"
          s"regexp_replace($tidy, '/$$', '')"
        }
        s"""WITH messy AS (
           |  SELECT doc_id,
           |    'HTTP://WWW.' || upper(source) || '.EXAMPLE.COM:80/Path' || CAST(doc_id AS VARCHAR) ||
           |      '/?utm_source=x&id=' || CAST(doc_id AS VARCHAR) || '&fbclid=abc#frag' AS u1,
           |    'https://CDN.' || source || '.Net:443/x/?gclid=' || CAST(doc_id AS VARCHAR) AS u2
           |  FROM documents)
           |SELECT doc_id, ${norm("u1")} AS n1, ${norm("u2")} AS n2
           |FROM messy ORDER BY doc_id""".stripMargin
      },
      // Winnowing mirror: the same polynomial-rolling-hash + splitmix64
      // 8-gram hashes WITH positions, window MIN over a 4-row frame
      // (HUGEINT = unsigned order, matching the Scala unsigned compare),
      // rightmost argmin via a bounded range join, distinct selected hashes,
      // then signed per-doc count/min/xor.
      "q55_winnow" -> {
        s"""WITH corpus AS (SELECT doc_id AS id, text FROM documents),
           |${winnowChainSql("corpus")},
           |sg AS (SELECT id,
           |  CAST(CASE WHEN h >= 9223372036854775808 THEN h - $two64 ELSE h END AS BIGINT) AS v
           |  FROM fps)
           |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_fps,
           |  MIN(v) AS fp_min, bit_xor(v) AS fp_xor
           |FROM sg GROUP BY id ORDER BY doc_id""".stripMargin
      },
      // JL-projection mirror: the q17 plane-weight CTEs with range(0,8) and
      // the identical ordered-fold double dot.
      "q59_embed_project" -> {
        val a2 = unsignedLit(0x9e3779b97f4a7c15L)
        val b2 = unsignedLit(0xc2b2ae3d27d4eb4fL)
        val c2 = unsignedLit(0x165667b19e3779f9L)
        s"""WITH parg AS (
           |  SELECT p, d, ((p * $a2) % $two64 + (d * $b2) % $two64 + $c2) % $two64 AS h
           |  FROM (SELECT unnest(range(0, 8)) AS p) CROSS JOIN (SELECT unnest(range(0, 64)) AS d)),
           |${mix64StagesSql("parg", "h", "z", "jp")},
           |plw AS (
           |  SELECT p, list((CAST(z // 2048 AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0 ORDER BY d) AS w
           |  FROM jp4 GROUP BY p),
           |dots AS (
           |  SELECT e.vec_id, pw.p, list_reduce(
           |    list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), pw.w), x -> x[1] * x[2])),
           |    (a, b) -> a + b) AS dot
           |  FROM embeddings e CROSS JOIN plw pw)
           |SELECT vec_id, CAST(p AS BIGINT) AS dim,
           |  CAST(FLOOR(dot * 1000000.0) AS BIGINT) AS v_e6
           |FROM dots ORDER BY vec_id, dim""".stripMargin
      },
      // Winnow-bucket pair mirror: the same fingerprint chain over the
      // doubled corpus, the bucket cap as `c BETWEEN 2 AND 64` (exactly
      // collect_capped's drop semantics), pair counting over sub-cap fps.
      "q58_winnow_pairs" ->
        s"""WITH corpus AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL SELECT doc_id + 100000, text || ' tiny suffix' FROM documents),
           |${winnowChainSql("corpus")},
           |sizes AS (SELECT h, count(*) AS c FROM fps GROUP BY h),
           |ok AS (SELECT f.id, f.h FROM fps f JOIN sizes s ON s.h = f.h
           |       WHERE s.c BETWEEN 2 AND 64),
           |pairs AS (
           |  SELECT a.id AS id_a, b.id AS id_b FROM ok a
           |  JOIN ok b ON a.h = b.h AND a.id < b.id)
           |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS shared_fps
           |FROM pairs GROUP BY 1, 2 HAVING count(*) >= 30
           |ORDER BY id_a, id_b""".stripMargin,
      // URL cap mirror: identical synthetic URL text, the same lookahead-free
      // patterns (shared constants), the same registered-domain case logic,
      // and the cap in its window form (the heap aggregate is spec-proven
      // equal) ordered by the same splitmix64 uniform over rid ^ salt.
      "q53_url_domain_cap" -> {
        import vps.text.UrlOps._
        val suffixes = SecondLevelSuffixes.map(s => s"'$s'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    'visit https://www.' || source || '.co.uk/d/' || CAST(doc_id AS VARCHAR) ||
           |    ' or http://img.' || source || '.net/x?id=' || CAST(doc_id AS VARCHAR) AS t
           |  FROM documents),
           |ex AS (
           |  SELECT doc_id,
           |    unnest(range(len(regexp_extract_all(t, '$UrlPattern')))) AS url_pos,
           |    unnest(regexp_extract_all(t, '$UrlPattern')) AS url
           |  FROM t),
           |dom AS (
           |  SELECT doc_id, url_pos, doc_id * 8 + url_pos AS rid,
           |    CASE WHEN len(parts) >= 3 AND length(parts[-1]) = 2
           |              AND parts[-2] IN ($suffixes)
           |           THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
           |         WHEN len(parts) >= 2 THEN parts[-2] || '.' || parts[-1]
           |         ELSE host END AS domain
           |  FROM (SELECT doc_id, url_pos,
           |          regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS host,
           |          string_split(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1), '.') AS parts
           |        FROM ex)),
           |h0 AS (SELECT *, xor(CAST(rid AS HUGEINT), 11) AS h FROM dom),
           |${mix64StagesSql("h0", "h", "z", "hm")},
           |uu AS (SELECT doc_id, url_pos, rid, domain,
           |  CAST(z // 2048 AS DOUBLE) / 9007199254740992.0 AS u FROM hm4)
           |SELECT domain, doc_id, url_pos FROM uu
           |QUALIFY row_number() OVER (PARTITION BY domain ORDER BY u, rid) <= 15
           |ORDER BY domain, doc_id, url_pos""".stripMargin
      },
      // Vocabulary mirror: identical single-space tokenization (lowercased,
      // empties dropped), the same (df desc, tf_total desc, term) total
      // order, rank over the survivors.
      "q54_vocab_topk" ->
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           |  FROM documents),
           |dt AS (
           |  SELECT doc_id, term, count(*) AS tf FROM tok
           |  WHERE term <> '' GROUP BY 1, 2),
           |st AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS df,
           |    CAST(sum(tf) AS BIGINT) AS tf_total
           |  FROM dt GROUP BY 1),
           |rk AS (
           |  SELECT term, df, tf_total,
           |    CAST(row_number() OVER (ORDER BY df DESC, tf_total DESC, term) AS BIGINT) AS rank
           |  FROM st)
           |SELECT term, df, tf_total, rank FROM rk WHERE rank <= 100 ORDER BY rank""".stripMargin,
      "q52_quality_gate" -> {
        import vps.text.Redact._
        s"""WITH feats AS (
           |  SELECT doc_id,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE length(string_split_regex(trim(text), '\\s+')) END AS toks,
           |    CASE WHEN length(text) - 4 <= 0 THEN 0.0
           |         ELSE 1.0 - CAST(len(list_distinct(list_transform(
           |                generate_series(1, length(text) - 4),
           |                i -> substr(text, i, 5)))) AS DOUBLE)
           |              / (length(text) - 4) END AS rep5,
           |    CAST(length(regexp_extract_all(text, '$EmailPattern'))
           |       + length(regexp_extract_all(text, '$PhonePattern'))
           |       + length(regexp_extract_all(text, '$Ipv4Pattern')) AS DOUBLE)
           |      * 1000.0 / CAST(length(text) AS DOUBLE) AS pii,
           |    list_slice(string_split_regex(lower(text), '\\s+'), 1, 500) AS tk
           |  FROM documents),
           |scores AS (
           |  SELECT *,
           |    len(list_filter(tk, t -> t IN ('the','and','of','to','in','is','that','it','for','with','was','on'))) AS s_en,
           |    len(list_filter(tk, t -> t IN ('el','la','de','que','y','en','los','del','las','por','un','para'))) AS s_es,
           |    len(list_filter(tk, t -> t IN ('der','die','und','das','von','zu','mit','den','im','für','ist','des'))) AS s_de,
           |    len(list_filter(tk, t -> t IN ('le','la','les','de','des','et','en','un','une','du','que','est'))) AS s_fr,
           |    len(list_filter(tk, t -> t IN ('il','di','che','la','per','non','con','una','del','gli','più','nel'))) AS s_it
           |  FROM feats),
           |lang AS (
           |  SELECT *, CASE
           |    WHEN greatest(s_en,s_es,s_de,s_fr,s_it) = 0 THEN 'und'
           |    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_it THEN 'en'
           |    WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_it THEN 'es'
           |    WHEN s_de >= s_fr AND s_de >= s_it THEN 'de'
           |    WHEN s_fr >= s_it THEN 'fr'
           |    ELSE 'it' END AS lg
           |  FROM scores),
           |gate AS (
           |  SELECT doc_id, CASE
           |    WHEN toks < 20 THEN 'too_short'
           |    WHEN toks > 90 THEN 'too_long'
           |    WHEN rep5 >= 0.25 THEN 'repetitive'
           |    WHEN lg NOT IN ('en') THEN 'lang'
           |    WHEN pii >= 2.0 THEN 'pii'
           |    ELSE 'ok' END AS reason
           |  FROM lang)
           |SELECT doc_id, reason, reason = 'ok' AS keep FROM gate ORDER BY doc_id""".stripMargin
      }
    )
  }
}

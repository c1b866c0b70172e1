package vps.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import vps.text.functions._

/** Corpus deduplication operators — each returns a DataFrame program (no
  * collect), so they scale with the cluster:
  *
  * - [[exactDuplicates]]: hash-groupBy (one shuffle on the digest)
  * - [[minhashCandidates]]: MinHash + LSH banding — shuffle on (band, bucket),
  *   candidate pairs verified with exact n-gram Jaccard
  * - [[simhashCandidates]]: 64-bit SimHash, 16-bit band blocking, hamming verify
  *   (builtin `bit_count(a XOR b)`)
  * - [[embeddingNearDuplicates]]: cosine near-dup via multi-band random
  *   hyperplane LSH blocking + exact cosine verify
  *
  * Scale discipline shared by every banded variant: ONLY (id, band, bucket)
  * rides the band shuffle — never the document text or the embedding vector.
  * Payloads are joined back exactly once per side for the verify step, so
  * shuffle volume is O(corpus × bands × 16 bytes), not O(corpus × bands ×
  * payload).
  *
  * GROUP resolution: [[nearDuplicateMembership]] turns minhash pairs into
  * `(id, keep_id)` groups via [[Components.connectedComponents]]; the same
  * composition works for ANY pair list — e.g.
  * `Components.connectedComponents(simhashCandidates(df))` or the embedding
  * variant — since all three emit the `(id_a, id_b)` shape.
  *
  * Hot-bucket bound shared by every banded variant: bucket membership is
  * gathered with `collect_capped(maxBucket)` — O(maxBucket) aggregation state
  * map-side and reduce-side — so a boilerplate mega-duplicate class (10^8
  * byte-identical pages all landing in ONE (band, bucket)) can neither blow
  * an aggregation buffer nor explode into C(n,2) pairs. Capped-out buckets
  * are DROPPED and ALWAYS counted: on the caller's `droppedBuckets` channel
  * when supplied, otherwise on an auto-registered named accumulator (visible
  * in the Spark UI/event log), so saturation is never silent. A mega
  * duplicate class is exact-duplicate territory — compose
  * [[exactDuplicates]] first (constant state per group) and near-dup the
  * survivors.
  *
  * Bucket-space saturation: minhash buckets live in a 2^64 space and
  * embedding-LSH in 2^rowsPerBand per band, so NATURAL bucket occupancy
  * stays tiny as the corpus grows; simhash's 16-bit bands saturate first —
  * beyond ~maxBucket x 2^16 documents, natural (non-duplicate) buckets start
  * hitting the cap and [[minhashCandidates]] / [[embeddingNearDuplicates]]
  * are the scale path (the 4 x 16-bit banding is what makes the hamming<=3
  * guarantee, so its space cannot simply be widened).
  */
object Dedup {

  /** One auto-channel per (application, variant), with a job-end listener
    * that logs a driver-side WARNING whenever the drop count grows — a
    * headless caller that never opens the Spark UI still learns that LSH
    * recall was lost. Registry-cached so repeated query construction doesn't
    * stack accumulators or listeners.
    */
  private val channelRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, vps.geom.ErrorChannel]()
  private lazy val logger = org.slf4j.LoggerFactory.getLogger("vps.ml.Dedup")

  private[ml] def autoChannel(spark: org.apache.spark.sql.SparkSession,
      name: String): vps.geom.ErrorChannel =
    channelRegistry.computeIfAbsent(s"${spark.sparkContext.applicationId}/$name", _ => {
      val ch = vps.geom.GeomErrors.channel(spark, s"dedup.dropped.$name")
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private var lastSeen = 0L
        override def onJobEnd(end: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val c = ch.count
          if (c > lastSeen) {
            logger.warn(s"dedup.$name: $c LSH bucket(s) exceeded maxBucket and were " +
              "dropped — candidate recall was lost; raise maxBucket or run " +
              "exactDuplicates first (mega duplicate classes are exact-dedup territory)")
            lastSeen = c
          }
        }
      })
      ch
    })

  /** The caller's channel, or the auto-registered per-application channel
    * (accumulator UI-visible + driver-side warning on growth) so drops are
    * never silent.
    */
  private def dropChannel(df: DataFrame, name: String,
      supplied: Option[vps.geom.ErrorChannel]): Option[vps.geom.ErrorChannel] =
    supplied.orElse(Some(autoChannel(df.sparkSession, name)))

  /** Groups of byte-identical texts: (digest, keep_id = min id, n).
    * Constant-size aggregation state per group — a pathological 10^8-duplicate
    * class costs one counter, not an in-memory id array. Group membership is
    * relational: see [[exactDuplicateMembership]].
    */
  def exactDuplicates(df: DataFrame, idCol: String = "id", textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n"))
      .where(col("n") > 1)

  /** Membership of duplicate groups as rows: (digest, id, keep_id) — one row
    * per duplicated document. Unbounded duplicate classes stream through as
    * rows instead of accumulating in a single aggregation buffer.
    */
  def exactDuplicateMembership(df: DataFrame, idCol: String = "id", textCol: String = "text"): DataFrame = {
    val groups = exactDuplicates(df, idCol, textCol).select(col("digest"), col("keep_id"))
    df.select(md5(col(textCol)).as("digest"), col(idCol).as("id"))
      .join(groups, Seq("digest"))
  }

  /** MinHash-LSH candidate pairs with exact Jaccard verification.
    *
    * numHashes = bands * rowsPerBand. Collision prob for similarity s is
    * 1-(1-s^rows)^bands; defaults catch s >= ~0.5 with high probability.
    *
    * Shuffle plan: (1) band explode + self-join on (band, bucket) over
    * (id, band, bucket) ONLY; (2) pair-dedupe on (id_a, id_b); (3) the text is
    * joined back once per side for the `ngram_jaccard` verify. Document bytes
    * never multiply by the band count.
    *
    * RECALL impact of `maxBucket`: a bucket holding more than `maxBucket` ids
    * contributes NO pairs — even legitimately-hot non-mega-dup buckets — so
    * every drop trades recall for boundedness. Drops are never silent (counted
    * on `droppedBuckets` or the auto-registered `dedup.dropped.minhash`
    * accumulator, UI-visible); a nonzero count means candidates were lost and
    * the cap (or an upstream [[exactDuplicates]] pass) needs revisiting.
    *
    * `carryText = true` additionally exposes the verify join's `text_a` /
    * `text_b` columns (already materialized for the Jaccard step — zero extra
    * shuffle), so callers that post-filter on the texts (e.g. the exact
    * text-equality finisher) don't pay two more corpus joins.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String = "id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      shingle: Int = 5,
      minJaccard: Double = 0.5,
      maxBucket: Int = 4096,
      droppedBuckets: Option[vps.geom.ErrorChannel] = None,
      carryText: Boolean = false): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val texts = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // band buckets computed in one expression pass (see TextOps.minhashBands)
    val banded = texts.select(col("id"),
      posexplode(minhash_bands(col("text"), numHashes, bands, shingle)).as(Seq("band", "bucket")))

    // ONE shuffle on (band, bucket), pairs generated inside each bucket row:
    // signatures are computed exactly once per document (a banded self-join
    // evaluates its own scan per side — ReuseExchange does not fire across the
    // alias); bucket state is bounded at maxBucket and capped-out buckets are
    // dropped + counted (see the object doc). The groupBy keeps its partial
    // (map-side) collect_capped BELOW the exchange — that bound is what keeps
    // a mega-duplicate class from shipping its raw rows to one reducer — and
    // the EXPLICIT repartition of the (already capped) bucket buffers then
    // pins the pair-generate + downstream stage at task parallelism: the
    // aggregated rows are small, so AQE's byte-based coalescing would
    // otherwise funnel the whole stage into one task (measured 300-580 ms
    // serialized at bench SF).
    val pairs = banded
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_capped(col("id"), maxBucket)).as("ids"))
      .repartition(parallelism, col("band"), col("bucket"))
      .where(not_dropped(col("ids"), dropChannel(df, "minhash", droppedBuckets)))
      .select(explode(array_pairs(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))

    // pair-dedupe ON the verify spread: repartition first, so the distinct's
    // final aggregation reuses the exchange (one shuffle, not two) and the
    // CPU-heavy exact verify downstream stays spread at task parallelism
    // instead of AQE-funneled into a handful of tasks. (The exchange carries
    // un-deduped pairs, but unlike the band rows that stream is BOUNDED by
    // construction: <= C(maxBucket, 2) per bucket with duplication <= the
    // band count, so trading the map-side pre-dedup for one fewer exchange
    // is safe at every scale.)
    //
    // The exact-Jaccard verify joins each side's PRE-COMPUTED sorted shingle
    // set (char_shingles, evaluated once per document where the join side is
    // built) and intersects with one linear merge per pair
    // (`array_jaccard(char_shingles(a), char_shingles(b)) ==
    // ngram_jaccard(a, b)` by definition — same distinct-shingle sets).
    // Re-shingling text per candidate pair measured ~12 s of stage CPU at
    // bench SF (candidate degree > 1 defeats the per-thread memo cache);
    // the trade is ~8 bytes/char of join payload instead of ~1 — and the
    // per-pair CPU drops ~50x, which dominates at every scale since the LSH
    // band shuffle, not the verify join, is the byte-heavy leg.
    val aSide = texts.select((col("id").as("id_a") +:
      char_shingles(col("text"), shingle).as("sh_a") +:
      (if (carryText) Seq(col("text").as("text_a")) else Nil)): _*)
    val bSide = texts.select((col("id").as("id_b") +:
      char_shingles(col("text"), shingle).as("sh_b") +:
      (if (carryText) Seq(col("text").as("text_b")) else Nil)): _*)
    pairs
      .repartition(parallelism, col("id_a"), col("id_b"))
      .distinct()
      .join(aSide, Seq("id_a"))
      .join(bSide, Seq("id_b"))
      .withColumn("jaccard", array_jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= minJaccard)
      .select((col("id_a") +: col("id_b") +: col("jaccard") +:
        (if (carryText) Seq(col("text_a"), col("text_b")) else Nil)): _*)
  }

  /** Substring-level candidate pairs via winnowing fingerprints
    * ([[vps.text.TextOps.winnow]], Schleimer et al. SIGMOD'03): documents
    * sharing at least `minShared` selected k-gram fingerprints. Unlike the
    * whole-document MinHash signature, winnowing guarantees detection of any
    * shared SUBSTRING of length >= k + w - 1 — the contained-copy /
    * quotation case MinHash dilutes away.
    *
    * Same shuffle plan as [[minhashCandidates]]: one (fp) shuffle over
    * (id, fp) pairs only, capped buckets (a fingerprint appearing in more
    * than `maxBucket` docs is generic boilerplate — dropped AND counted on
    * the error channel), pairs generated inside each bucket row, then one
    * count-shuffle on the pair. `shared_fps` counts distinct shared
    * fingerprints (per-doc fingerprint sets are distinct by construction).
    */
  def winnowCandidates(
      df: DataFrame,
      idCol: String = "id",
      textCol: String = "text",
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 8,
      maxBucket: Int = 64,
      droppedBuckets: Option[vps.geom.ErrorChannel] = None): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val fps = df.select(col(idCol).as("id"),
      explode(winnow_fingerprints(col(textCol), k, w)).as("fp"))
    // partial (map-side) collect_capped stays BELOW the bucket exchange (the
    // mega-bucket volume bound — see minhashCandidates); the explicit
    // repartition of the capped buffers then pins the pair-generate stage at
    // task parallelism (anti-AQE-funneling), and the pair-count groupBy
    // reuses the second repartition's partitioning
    fps.groupBy(col("fp"))
      .agg(sort_array(collect_capped(col("id"), maxBucket)).as("ids"))
      .repartition(parallelism, col("fp"))
      .where(not_dropped(col("ids"), dropChannel(df, "winnow", droppedBuckets)))
      .select(explode(array_pairs(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .repartition(parallelism, col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** Near-duplicate GROUP membership: `(id, keep_id)` — the operator a
    * training-data pipeline runs after candidate generation. Verified
    * [[minhashCandidates]] pairs are resolved into transitive groups with
    * distributed connected components ([[Components.connectedComponents]],
    * large-star/small-star — no driver-side union-find), so A~B and B~C land
    * in ONE group even when A and C are not directly paired. `keep_id` is the
    * minimum id of the group, matching [[exactDuplicateMembership]]'s contract;
    * only documents belonging to some group appear.
    *
    * Recall caveat (same as [[minhashCandidates]]): buckets over `maxBucket`
    * are dropped-and-counted, so members reachable ONLY through a capped
    * bucket can be missing from their group — watch the drop channel.
    */
  def nearDuplicateMembership(
      df: DataFrame,
      idCol: String = "id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      shingle: Int = 5,
      minJaccard: Double = 0.5,
      maxBucket: Int = 4096,
      droppedBuckets: Option[vps.geom.ErrorChannel] = None): DataFrame =
    nearDuplicateMembershipWithStats(df, idCol, textCol, numHashes, bands, shingle,
      minJaccard, maxBucket, droppedBuckets)._1

  /** [[nearDuplicateMembership]] plus the drop channel it counts capped
    * buckets on — the headless-caller surface: after any action over the
    * returned frame, `channel.count > 0` means recall was lost (the auto
    * channel also logs a driver warning; a supplied channel is returned
    * as-is).
    */
  def nearDuplicateMembershipWithStats(
      df: DataFrame,
      idCol: String = "id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      shingle: Int = 5,
      minJaccard: Double = 0.5,
      maxBucket: Int = 4096,
      droppedBuckets: Option[vps.geom.ErrorChannel] = None)
      : (DataFrame, vps.geom.ErrorChannel) = {
    val ch = droppedBuckets.getOrElse(autoChannel(df.sparkSession, "minhash"))
    val pairs = minhashCandidates(df, idCol, textCol, numHashes, bands, shingle,
      minJaccard, maxBucket, Some(ch))
    (Components.connectedComponents(pairs)
      .select(col("id"), col("component").as("keep_id")), ch)
  }

  /** SimHash near-duplicate pairs with hamming distance <= maxHamming.
    * Blocking: 4 bands of 16 bits — any pair within hamming 3 shares >= 1 band.
    * The 8-byte signature rides the band shuffle (it IS the payload here).
    */
  def simhashCandidates(
      df: DataFrame,
      idCol: String = "id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucket: Int = 4096,
      droppedBuckets: Option[vps.geom.ErrorChannel] = None): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val withBands = df.select(col(idCol).as("id"), simhash_bands(col(textCol)).as("sb"))
    val banded = withBands.select(
      struct(col("id"), element_at(col("sb"), 1).as("sig")).as("e"),
      posexplode(slice(col("sb"), 2, 4)).as(Seq("band", "bucket")))
    // one shuffle + in-bucket pair generation (see minhash); the 8-byte sig
    // rides along inside the (id, sig) struct so the hamming verify needs no
    // join back; partial collect_capped stays below the exchange (the
    // mega-bucket volume bound), the explicit repartition of the capped
    // buffers pins the pair stage at task parallelism (anti-AQE-funneling),
    // and the hamming filter runs BEFORE the dedupe so the distinct only
    // sees surviving pairs (filter-then-distinct == distinct-then-filter on
    // identical rows).
    banded
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_capped(col("e"), maxBucket)).as("es"))
      .repartition(parallelism, col("band"), col("bucket"))
      .where(not_dropped(col("es"), dropChannel(df, "simhash", droppedBuckets)))
      .select(explode(array_pairs(col("es"))).as("p"))
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        bit_count(col("p.a.sig").bitwiseXOR(col("p.b.sig"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .repartition(parallelism, col("id_a"), col("id_b"))
      .distinct()
  }

  /** Embedding cosine near-duplicates via multi-band random hyperplane LSH.
    *
    * Each band projects the vector onto `rowsPerBand` fixed pseudo-random
    * hyperplanes (seed-free constants, like MinHash) and buckets on the sign
    * pattern; bands are OR-composed, so a true near-dup pair is caught unless
    * it sign-flips in EVERY band — with default 8 bands of 16 planes the miss
    * probability at cos >= 0.999 is negligible, where a single axis-aligned
    * band silently misses any pair straddling one near-zero early dimension.
    * Bucket fan-out is 2^rowsPerBand per band, bounding bucket cardinality
    * (and the within-bucket self-join) as the corpus grows.
    *
    * Only (id, band, bucket) rides the shuffle; vectors join back once per
    * side for the exact-cosine verify.
    */
  def embeddingNearDuplicates(
      df: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCosine: Double = 0.95,
      bands: Int = 8,
      rowsPerBand: Int = 16,
      maxBucket: Int = 4096,
      droppedBuckets: Option[vps.geom.ErrorChannel] = None): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = vecs.select(col("id"),
      posexplode(hyperplane_bands(col("v"), bands, rowsPerBand)).as(Seq("band", "bucket")))
    // one shuffle + in-bucket pair generation (see minhash); partial
    // collect_capped stays below the exchange (the mega-bucket volume
    // bound); the explicit repartition of the capped buffers pins the pair
    // stage at task parallelism (anti-AQE-funneling)
    val pairs = banded
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_capped(col("id"), maxBucket)).as("ids"))
      .repartition(parallelism, col("band"), col("bucket"))
      .where(not_dropped(col("ids"), dropChannel(df, "embedding", droppedBuckets)))
      .select(explode(array_pairs(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
    // pair-dedupe on the verify spread: one exchange, distinct's final agg
    // reuses it, and the exact-cosine verify stays spread (see minhash)
    pairs
      .repartition(parallelism, col("id_a"), col("id_b"))
      .distinct()
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cosine", cosine_sim(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }
}

package vps.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import vps.text.functions._

/** Corpus deduplication operators — each returns a DataFrame program (no
  * collect), so they scale with the cluster:
  *
  * - [[exactDuplicates]]: hash-groupBy (one shuffle on the digest)
  * - [[minhashCandidates]]: MinHash + LSH banding — shuffle on (band, bucket),
  *   candidate pairs verified with exact n-gram Jaccard
  * - [[winnowCandidates]]: winnowing fingerprints as buckets, pairs sharing
  *   at least `minShared` of them
  * - [[simhashCandidates]]: 64-bit SimHash, 16-bit band blocking, hamming verify
  *   (builtin `bit_count(a XOR b)`)
  * - [[embeddingNearDuplicates]]: cosine near-dup via multi-band random
  *   hyperplane LSH blocking + exact cosine verify
  *
  * The four banded operators share one capped-bucket pair path,
  * [[bucketPairs]], which states their scale discipline and hot-bucket bound
  * once, and minhash and embedding share one exact verify, [[verified]]. Each
  * operator holds only its band expression, its bucket member, its drop
  * channel name and its finisher.
  *
  * GROUP resolution: [[nearDuplicateMembership]] turns minhash pairs into
  * `(id, keep_id)` groups via [[Components.connectedComponents]]; the same
  * composition works for ANY pair list — e.g.
  * `Components.connectedComponents(simhashCandidates(df))` or the embedding
  * variant — since all three emit the `(id_a, id_b)` shape.
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

  /** The capped-bucket pair path of every banded operator: the in-bucket
    * pairs `(id_a, id_b)` of `banded`, spread on `(id_a, id_b)` at task
    * parallelism for the caller's finisher.
    *
    * `banded` has one row per (document, bucket): `keys` name the bucket and
    * `member` is the column a bucket collects — the id, or simhash's
    * `(id, sig)` struct, whose signature the finisher reads off the pair.
    * `pair` projects each pair `p` (`a < b`) to the output columns, `id_a`
    * and `id_b` among them.
    *
    * Scale discipline: ONLY the bucket keys and the member ride the bucket
    * shuffle — never the document text or the embedding vector. Payloads are
    * joined back exactly once per side for a verify step ([[verified]]), so
    * shuffle volume is O(corpus × bands × 16 bytes), not O(corpus × bands ×
    * payload). There is ONE shuffle on the bucket keys and pairs are
    * generated inside each bucket row: signatures are computed exactly once
    * per document (a banded self-join evaluates its own scan per side —
    * ReuseExchange does not fire across the alias).
    *
    * Hot-bucket bound: bucket membership is gathered with
    * `collect_capped(maxBucket)` — O(maxBucket) aggregation state map-side
    * and reduce-side — so a boilerplate mega-duplicate class (10^8
    * byte-identical pages all landing in ONE bucket) can neither blow an
    * aggregation buffer nor explode into C(n,2) pairs. The groupBy keeps its
    * partial (map-side) collect_capped BELOW the bucket exchange; that bound
    * is what keeps a mega-duplicate class from shipping its raw rows to one
    * reducer. Capped-out buckets are DROPPED and ALWAYS counted: on the
    * caller's `droppedBuckets` channel when supplied, otherwise on the
    * auto-registered `dedup.dropped.<variant>` accumulator (visible in the
    * Spark UI/event log, plus the driver warning of [[autoChannel]]), so
    * saturation is never silent. Every drop trades recall for boundedness:
    * a bucket over the cap contributes NO pairs, even a legitimately hot
    * non-duplicate one. A mega duplicate class is exact-duplicate territory
    * — compose [[exactDuplicates]] first (constant state per group) and
    * near-dup the survivors.
    *
    * Two explicit repartitions at `defaultParallelism`:
    *   - of the (already capped) bucket buffers, which pins the
    *     pair-generate stage and what follows at task parallelism: the
    *     aggregated rows are small, so AQE's byte-based coalescing would
    *     otherwise funnel the whole stage into one task (measured 300-580 ms
    *     serialized at bench SF);
    *   - of the pairs on `(id_a, id_b)`, so the finisher's dedupe or count
    *     reuses that exchange (one shuffle, not two) and a CPU-heavy verify
    *     downstream stays spread instead of AQE-funneled into a handful of
    *     tasks. The exchange carries un-deduped pairs, but unlike the band
    *     rows that stream is BOUNDED by construction: <= C(maxBucket, 2) per
    *     bucket with duplication <= the band count, so trading the map-side
    *     pre-dedup for one fewer exchange is safe at every scale. A filter
    *     the finisher puts on the pairs is planned below this exchange.
    */
  private def bucketPairs(banded: DataFrame, keys: Seq[String], member: String, maxBucket: Int,
      variant: String, droppedBuckets: Option[vps.geom.ErrorChannel],
      pair: Seq[Column] = Seq(col("p.a").as("id_a"), col("p.b").as("id_b"))): DataFrame = {
    val parallelism = banded.sparkSession.sparkContext.defaultParallelism
    val bucket = keys.map(col)
    val members = s"${member}s"
    val channel = droppedBuckets.orElse(Some(autoChannel(banded.sparkSession, variant)))
    banded
      .groupBy(bucket: _*)
      .agg(sort_array(collect_capped(col(member), maxBucket)).as(members))
      .repartition(parallelism, bucket: _*)
      .where(not_dropped(col(members), channel))
      .select(explode(array_pairs(col(members))).as("p"))
      .select(pair: _*)
      .repartition(parallelism, col("id_a"), col("id_b"))
  }

  /** The exact verify of spread candidate pairs against a payload: the pairs
    * are deduped on their spread (the distinct reuses its exchange), each
    * side's `payload` column (`value` evaluated over `rows`, which holds
    * `id`) is joined once — side b reuses side a's exchange, since both
    * sides are the same projection keyed the same way — and `score` of the
    * two payloads must reach `threshold`. Output: `(id_a, id_b, score)`, then
    * `<c>_a`, `<c>_b` for each `carried` column of `rows`.
    */
  private def verified(pairs: DataFrame, rows: DataFrame, payload: String, value: Column,
      carried: Seq[String], score: String, scoreOf: (Column, Column) => Column,
      threshold: Double): DataFrame = {
    def side(s: String) = rows.select((col("id").as(s"id_$s") +: value.as(s"${payload}_$s") +:
      carried.map(c => col(c).as(s"${c}_$s"))): _*)
    pairs
      .distinct()
      .join(side("a"), Seq("id_a"))
      .join(side("b"), Seq("id_b"))
      .withColumn(score, scoreOf(col(s"${payload}_a"), col(s"${payload}_b")))
      .where(col(score) >= threshold)
      .select((Seq("id_a", "id_b", score) ++ carried.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col): _*)
  }

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
    * Plan: the (band, bucket) pair path of [[bucketPairs]] over (id, band,
    * bucket), then the [[verified]] Jaccard verify. Document bytes never
    * multiply by the band count. Capped-out buckets are counted on
    * `droppedBuckets` or the auto-registered `dedup.dropped.minhash`
    * accumulator; a nonzero count means candidates were lost and the cap (or
    * an upstream [[exactDuplicates]] pass) needs revisiting.
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
    val texts = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // band buckets computed in one expression pass (see TextOps.minhashBands)
    val banded = texts.select(col("id"),
      posexplode(minhash_bands(col("text"), numHashes, bands, shingle)).as(Seq("band", "bucket")))
    // The verify payload is each document's PRE-COMPUTED sorted shingle set
    // (char_shingles, evaluated once per document where the join side is
    // built), intersected with one linear merge per pair
    // (`array_jaccard(char_shingles(a), char_shingles(b)) ==
    // ngram_jaccard(a, b)` by definition — same distinct-shingle sets).
    // Re-shingling text per candidate pair measured ~12 s of stage CPU at
    // bench SF (candidate degree > 1 defeats the per-thread memo cache);
    // the trade is ~8 bytes/char of join payload instead of ~1 — and the
    // per-pair CPU drops ~50x, which dominates at every scale since the LSH
    // band shuffle, not the verify join, is the byte-heavy leg.
    verified(bucketPairs(banded, Seq("band", "bucket"), "id", maxBucket, "minhash", droppedBuckets),
      texts, "sh", char_shingles(col("text"), shingle), if (carryText) Seq("text") else Nil,
      "jaccard", array_jaccard, minJaccard)
  }

  /** Substring-level candidate pairs via winnowing fingerprints
    * ([[vps.text.TextOps.winnow]], Schleimer et al. SIGMOD'03): documents
    * sharing at least `minShared` selected k-gram fingerprints. Unlike the
    * whole-document MinHash signature, winnowing guarantees detection of any
    * shared SUBSTRING of length >= k + w - 1 — the contained-copy /
    * quotation case MinHash dilutes away.
    *
    * Plan: the pair path of [[bucketPairs]] with each fingerprint as a
    * bucket, over (id, fp) only (a fingerprint appearing in more than
    * `maxBucket` docs is generic boilerplate — dropped AND counted), then a
    * pair count that reuses the pair spread. `shared_fps` counts distinct
    * shared fingerprints (per-doc fingerprint sets are distinct by
    * construction).
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
    val fps = df.select(col(idCol).as("id"),
      explode(winnow_fingerprints(col(textCol), k, w)).as("fp"))
    bucketPairs(fps, Seq("fp"), "id", maxBucket, "winnow", droppedBuckets)
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
    *
    * Plan: the (band, bucket) pair path of [[bucketPairs]] with the
    * `(id, sig)` struct as the bucket member — the 8-byte signature rides
    * the band shuffle (it IS the payload here), so the hamming verify needs
    * no join back — then the hamming filter and a dedupe that reuses the
    * pair spread. The filter runs BEFORE the dedupe so the distinct only
    * sees surviving pairs (filter-then-distinct == distinct-then-filter on
    * identical rows).
    */
  def simhashCandidates(
      df: DataFrame,
      idCol: String = "id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucket: Int = 4096,
      droppedBuckets: Option[vps.geom.ErrorChannel] = None): DataFrame = {
    val withBands = df.select(col(idCol).as("id"), simhash_bands(col(textCol)).as("sb"))
    val banded = withBands.select(
      struct(col("id"), element_at(col("sb"), 1).as("sig")).as("e"),
      posexplode(slice(col("sb"), 2, 4)).as(Seq("band", "bucket")))
    bucketPairs(banded, Seq("band", "bucket"), "e", maxBucket, "simhash", droppedBuckets,
      Seq(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        bit_count(col("p.a.sig").bitwiseXOR(col("p.b.sig"))).as("hamming")))
      .where(col("hamming") <= maxHamming)
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
    * Plan: the (band, bucket) pair path of [[bucketPairs]] over (id, band,
    * bucket) only, then the [[verified]] exact-cosine verify, which joins
    * the vectors back once per side.
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
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = vecs.select(col("id"),
      posexplode(hyperplane_bands(col("v"), bands, rowsPerBand)).as(Seq("band", "bucket")))
    verified(bucketPairs(banded, Seq("band", "bucket"), "id", maxBucket, "embedding", droppedBuckets),
      vecs, "v", col("v"), Nil, "cosine", cosine_sim, minCosine)
  }
}

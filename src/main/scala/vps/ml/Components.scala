package vps.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair/edge list — the group-resolution
  * step a dedup pipeline runs after LSH candidate generation: verified
  * near-duplicate PAIRS (A~B, B~C) become duplicate GROUPS ({A,B,C} with one
  * deterministic keep id), exactly the relational membership shape
  * [[Dedup.exactDuplicateMembership]] produces for byte-identical texts.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014) — the shuffle-bounded
  * formulation that converges in O(log n) rounds on pathological long chains,
  * where naive label propagation needs O(n) rounds (one hop per round).
  * No driver-side union-find: per-round shuffle volume is O(|edges| x 16
  * bytes) regardless of component size or skew.
  *
  * Execution shape (the round-6 fusion): each round is ONE Spark job with
  * exactly TWO exchanges. Both stars become `repartition(u) +
  * sortWithinPartitions(u, v) + streaming mapPartitions`:
  *
  *   1. hash-partitioning by `u` co-locates every copy of a node's neighbor
  *      list, so local streaming dedup equals global dedup — the former
  *      per-round `distinct()` exchange is gone;
  *   2. the ascending (u, v) sort puts each group's MINIMUM neighbor first,
  *      so both star emissions run with O(1) state per group — no hash-agg,
  *      no join build side, no collected neighbor lists. The sort is
  *      Tungsten-managed (radix on the 16-byte rows, spillable), so a
  *      mega-component root degrades to a sequential spill, never an OOM;
  *   3. large-star's output feeds small-star through the second exchange
  *      inside the same job; the round materializes once (checkpoint).
  *
  * The previous relational formulation (2 x groupBy().agg(min) + 2 x
  * equi-join + distinct) paid ~5 exchanges plus two join hash tables per
  * round; this pays 2 exchanges and two streaming scans. Measured on the
  * 19M-edge chains-plus-star graph of `ScaleProbe cc`: see BENCH/BASELINE.md
  * round-6 section.
  *
  * Lineage is truncated every round so the driver-side plan stays O(1) deep
  * across iterations: with `spark.sparkContext.setCheckpointDir` configured
  * the rounds use RELIABLE `checkpoint()` (executor loss survivable — the
  * cluster posture); otherwise `localCheckpoint()` (block-manager storage,
  * fine for a single JVM).
  *
  * Convergence is detected by TWO fingerprints, either of which ends the
  * loop; both are (count, xor, sum) of a per-edge 64-bit mix folded into a
  * per-partition REPLACE-semantics accumulator, so no extra job or scan:
  *
  *   - OUTPUT multiset fingerprint, computed on the round's checkpoint
  *     writes: multiset equality across consecutive rounds implies set
  *     equality implies a fixpoint (the fast path — at the star-forest
  *     fixpoint the output is exactly the deduplicated set each round);
  *   - INPUT set fingerprint, computed inside the large-star pass over
  *     locally-deduplicated neighbors, counting each canonical edge once
  *     (in its larger endpoint's group): equality across consecutive rounds
  *     means the previous round changed nothing (the backstop — catches a
  *     stable set under multiset multiplicity noise).
  *
  * At detected convergence the edge frame is provably duplicate-free: a
  * stable set is a star forest, and the fused round's emissions over a star
  * forest are unique (children appear in exactly one group; the root only
  * ever appears as the excluded minimum), so the membership extraction can
  * rely on "every non-root appears exactly once as `u`".
  */
object Components {

  /** Connected components of the undirected graph given as a pair list.
    * Output: `(id, component)` — one row per distinct node, `component` = the
    * MINIMUM id in the node's component (a deterministic keep id). Self-pairs
    * and null ids are ignored; isolated nodes never appear (no pairs => no
    * duplicate group), matching `exactDuplicateMembership`'s "only duplicated
    * documents" contract.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxRounds: Int = 50): DataFrame =
    connectedComponentsWithStats(pairs, aCol, bCol, maxRounds)._1

  /** [[connectedComponents]] plus the number of large+small-star rounds it
    * took to converge (the O(log n) gate asserted by the long-chain spec).
    */
  def connectedComponentsWithStats(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxRounds: Int = 50): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val reliable = sc.getCheckpointDir.isDefined

    runStars(pairs, aCol, bCol, maxRounds, reliable)
  }

  private val AdaptiveKey = "spark.sql.adaptive.enabled"
  // Spark conf is session-global, so the per-round AQE flip (see
  // withAqeDisabled) is serialized across concurrent connectedComponents
  // calls in this JVM: set/act/restore happen as one atomic unit and can
  // never interleave into a wrong final value.
  private val aqeFlipLock = new Object

  /** Runs `action` with adaptive execution disabled on `spark`, restoring the
    * caller's setting before returning — scoped to exactly one round's
    * materialization. From round 2 on, every exchange in the CC loop is an
    * explicit-width repartition over a checkpoint scan: AQE has nothing left
    * to decide there but still charges per-round planning plus one
    * stage-materialization job per exchange (measured ~2x on the 19M-edge
    * probe). Round 1 is NOT wrapped — it evaluates the caller's pair
    * pipeline, which may rely on AQE's runtime broadcast conversions.
    * Caveat (inherent to session-scoped conf): an unrelated query planned on
    * the same session DURING a round's job still sees AQE off for that
    * window.
    */
  private def withAqeDisabled[A](spark: org.apache.spark.sql.SparkSession)(action: => A): A =
    aqeFlipLock.synchronized {
      val prev = spark.conf.getOption(AdaptiveKey)
      spark.conf.set(AdaptiveKey, "false")
      try action
      finally prev match {
        case Some(v) => spark.conf.set(AdaptiveKey, v)
        case None => spark.conf.unset(AdaptiveKey)
      }
    }

  private def runStars(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int,
      reliable: Boolean): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    import spark.implicits._
    // Materialize a round AND fingerprint its output multiset in the same
    // job: wrap the edge iterator so each task folds (count, xor, sum) of a
    // per-edge mix into a per-partition accumulator slot as the checkpoint
    // writes flow past. REPLACE semantics per partition id keep the value
    // exact when reliable checkpointing recomputes the result stage in its
    // second job (or a task retries).
    def truncate(df: DataFrame): (DataFrame, (Long, Long, Long)) = {
      val acc = new FingerprintAcc
      sc.register(acc, "cc-edge-fingerprint")
      val tagged = df.as[(Long, Long)].mapPartitions { it =>
        new Iterator[(Long, Long)] {
          private var cnt = 0L; private var xor = 0L; private var sum = 0L
          private var flushed = false
          override def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && !flushed) {
              flushed = true
              acc.add((org.apache.spark.TaskContext.getPartitionId(), (cnt, xor, sum)))
            }
            h
          }
          override def next(): (Long, Long) = {
            val e = it.next()
            val h = Components.edgeHash(e._1, e._2)
            cnt += 1; xor ^= h; sum += h
            e
          }
        }
      }.toDF("u", "v")
      val out = if (reliable) tagged.checkpoint(true) else tagged.localCheckpoint(true)
      (out, collapse(acc.value))
    }
    // a superseded round's checkpoint files are dead the moment the next
    // round is materialized — delete them, or O(rounds) full edge-list copies
    // accumulate on checkpoint storage (the cleaner does not remove them by
    // default). The FINAL round's checkpoint stays: the returned membership
    // frame still reads from it.
    def release(df: DataFrame): Unit = {
      df.unpersist()
      // Dataset.checkpoint wraps the checkpointed internal RDD in a
      // LogicalRDD — that RDD (not a derived df.rdd) holds the file location
      if (reliable) df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.flatMap(_.getCheckpointFile).foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
    }
    // One fused round: large-star then small-star, two exchanges, one job.
    // `fpAcc` receives the set fingerprint of the INPUT edge set (computed
    // over the locally-deduplicated neighbor stream in the large-star pass).
    // Symmetrization explodes a 2-element array instead of a two-branch
    // unionAll, so the map side of the first exchange is ONE pass over the
    // checkpoint (half the task count); the per-round exchange width is
    // derived from the measured edge count (scale-adaptive: a 10^4-edge
    // graph pays 1-task exchanges, a 10^8-edge graph still spreads) rather
    // than inheriting the session's shuffle-partition constant.
    def round(cur: DataFrame, fpAcc: FingerprintAcc, nPart: Int): DataFrame = {
      val sym = cur.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val ls = sym.repartition(nPart, col("u")).sortWithinPartitions("u", "v")
        .as[(Long, Long)]
        .mapPartitions(it => largeStarStream(it, fpAcc))
        .toDF("u", "v")
      ls.repartition(nPart, col("u")).sortWithinPartitions("u", "v")
        .as[(Long, Long)]
        .mapPartitions(smallStarStream)
        .toDF("u", "v")
    }

    // The normalized input feeds round 1 DIRECTLY (no warm-up checkpoint):
    // round 1's first exchange evaluates the caller's pair pipeline exactly
    // once — the same single evaluation a dedicated initial materialization
    // paid, minus one full write+read+job. Round-1 convergence is detected
    // against the INPUT SET fingerprint the large-star pass computes on the
    // fly: output-multiset == input-set (192-bit (count, xor, sum) match)
    // means the round emitted exactly the deduplicated input — a fixpoint.
    var edges =
      pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
        .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    var edgesIsCheckpoint = false
    var fpOut: Option[(Long, Long, Long)] = None

    // ~1M symmetrized 16-byte edge rows per round task (streaming passes
    // process tens of millions of rows/s/task, so this keeps task wall time
    // in the tens-to-hundreds of ms); capped at 4x cluster parallelism.
    // The edge count is only measured by round 1's large-star pass, so
    // round 1 runs at cluster parallelism and rounds 2+ adapt.
    var roundPartitions = math.max(1, sc.defaultParallelism)

    var rounds = 0
    var fpInPrev: Option[(Long, Long, Long)] = None
    var converged = false
    while (!converged && rounds < maxRounds) {
      val fpAcc = new FingerprintAcc
      sc.register(fpAcc, "cc-input-set-fingerprint")
      val prev = edges
      val prevWasCheckpoint = edgesIsCheckpoint
      val (next, nextFpOut) =
        if (rounds == 0) truncate(round(prev, fpAcc, roundPartitions))
        else withAqeDisabled(spark)(truncate(round(prev, fpAcc, roundPartitions)))
      rounds += 1
      val fpIn = collapse(fpAcc.value)
      if (rounds == 1) {
        roundPartitions = math.max(1L, math.min(
          sc.defaultParallelism.toLong * 4, fpIn._1 / 500000L + 1)).toInt
      }
      // fast path: this round's output multiset == this round's input SET —
      // at a fixpoint the emissions are duplicate-free, so multiset == set —
      // means the round changed nothing: a fixpoint, detected even when the
      // round's INPUT still carried duplicate rows (one round earlier than
      // comparing consecutive output multisets, which also remains below).
      // backstop: input set == previous round's input set => the previous
      // round was a no-op; `next` equals it as a set and is kept.
      converged = nextFpOut == fpIn || fpOut.contains(nextFpOut) ||
        fpInPrev.contains(fpIn)
      if (prevWasCheckpoint) release(prev)
      edges = next
      edgesIsCheckpoint = true
      fpOut = Some(nextFpOut)
      fpInPrev = Some(fpIn)
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds " +
      "(rounds grow ~log2 of the longest chain; raise maxRounds)")

    // Converged state is a duplicate-free star forest (see class doc): every
    // non-root node appears exactly once as `u`, so only the root side needs
    // deduping — a |roots|-sized distinct instead of one over 2x|edges| rows.
    val members = edges.select(col("u").as("id"), col("v").as("component"))
      .unionAll(edges.select(col("v").as("id"), col("v").as("component")).distinct())
    (members, rounds)
  }

  /** large-star over a (u, v)-sorted symmetrized partition: for every node u,
    * connect each strictly larger distinct neighbor to m = min(N(u) u {u}).
    * Because groups arrive sorted ascending by v, m is known from the first
    * row of the group and emission streams with O(1) state; duplicate
    * neighbors are adjacent and skipped (hash partitioning on u makes the
    * local dedup global). As a side effect, folds the set fingerprint of the
    * canonical input edge set into `fpAcc`: each canonical edge (a > b) is
    * counted exactly once, in group a (its larger endpoint), as neighbor b.
    */
  private def largeStarStream(
      it: Iterator[(Long, Long)],
      fpAcc: FingerprintAcc): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private var curU = 0L; private var prevV = 0L; private var m = 0L
      private var inGroup = false // curU/prevV/m valid
      private var cnt = 0L; private var xor = 0L; private var sum = 0L
      private var flushed = false
      private var out: (Long, Long) = _
      private var hasOut = false
      private def advance(): Unit = {
        while (!hasOut && it.hasNext) {
          val e = it.next()
          val u = e._1; val v = e._2
          val fresh = !inGroup || u != curU
          if (fresh) { curU = u; m = math.min(v, u); inGroup = true }
          if (fresh || v != prevV) { // distinct neighbor of curU
            if (v < u) {
              val h = Components.edgeHash(u, v)
              cnt += 1; xor ^= h; sum += h
            } else if (v > u) {
              out = (v, m); hasOut = true
            }
          }
          prevV = v
        }
        if (!hasOut && !it.hasNext && !flushed) {
          flushed = true
          fpAcc.add((org.apache.spark.TaskContext.getPartitionId(), (cnt, xor, sum)))
        }
      }
      override def hasNext: Boolean = { advance(); hasOut }
      override def next(): (Long, Long) = {
        advance()
        if (!hasOut) throw new NoSuchElementException("largeStarStream")
        hasOut = false; out
      }
    }

  /** small-star over a (u, v)-sorted big->small partition (every neighbor is
    * strictly smaller — exactly what the large-star pass emits): for node u
    * with m = min(N(u)) (the group's first distinct neighbor), emit (u, m)
    * and (v, m) for every other distinct neighbor v. Streaming, O(1) state.
    */
  private def smallStarStream(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private var curU = 0L; private var prevV = 0L; private var m = 0L
      private var inGroup = false
      private var out: (Long, Long) = _
      private var hasOut = false
      private def advance(): Unit = {
        while (!hasOut && it.hasNext) {
          val e = it.next()
          val u = e._1; val v = e._2
          if (!inGroup || u != curU) { // group start: v is min(N(u))
            curU = u; m = v; inGroup = true
            out = (u, m); hasOut = true
          } else if (v != prevV && v != m) { // distinct non-min neighbor
            out = (v, m); hasOut = true
          }
          prevV = v
        }
      }
      override def hasNext: Boolean = { advance(); hasOut }
      override def next(): (Long, Long) = {
        advance()
        if (!hasOut) throw new NoSuchElementException("smallStarStream")
        hasOut = false; out
      }
    }

  private def collapse(parts: Map[Int, (Long, Long, Long)]): (Long, Long, Long) = {
    val vs = parts.values
    (vs.map(_._1).sum, vs.foldLeft(0L)(_ ^ _._2), vs.map(_._3).sum)
  }

  /** splitmix64 finalizer — the per-edge mix feeding the set fingerprint. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[ml] def edgeHash(u: Long, v: Long): Long =
    mix64(mix64(u) ^ java.lang.Long.rotateLeft(mix64(v), 1))

  /** Per-partition (count, xor, sum) fingerprint slots with REPLACE
    * semantics: re-adding a partition's value (checkpoint recompute job,
    * task retry, speculative duplicate) overwrites with the identical value
    * instead of double-counting.
    */
  private final class FingerprintAcc
      extends org.apache.spark.util.AccumulatorV2[
        (Int, (Long, Long, Long)), Map[Int, (Long, Long, Long)]] {
    private val m = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    override def isZero: Boolean = m.isEmpty
    override def copy(): FingerprintAcc = { val c = new FingerprintAcc; c.m.putAll(m); c }
    override def reset(): Unit = m.clear()
    override def add(v: (Int, (Long, Long, Long))): Unit = m.put(v._1, v._2)
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[(Int, (Long, Long, Long)), Map[Int, (Long, Long, Long)]]): Unit =
      o.value.foreach { case (k, v) => m.put(k, v) }
    override def value: Map[Int, (Long, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      m.asScala.toMap
    }
  }
}

package vps.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis kernels for large-scale corpus pipelines: shingling, MinHash,
  * SimHash, rolling-hash fingerprints, n-gram language id. All deterministic,
  * all seed-free (hash constants fixed), so results reproduce across runs and
  * cluster sizes.
  */
object TextOps {
  // splitmix64 — public-domain mixing constants
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit polynomial rolling hash of a char window. */
  def charShingles(s: String, n: Int): Array[Long] = {
    if (s == null || s.length < n) return Array.empty
    val out = new Array[Long](s.length - n + 1)
    var h = 0L
    var pow = 1L
    val B = 1315423911L
    var i = 0
    while (i < n) { h = h * B + s.charAt(i); if (i < n - 1) pow *= B; i += 1 }
    out(0) = mix64(h)
    i = n
    while (i < s.length) {
      h = (h - s.charAt(i - n) * pow) * B + s.charAt(i)
      out(i - n + 1) = mix64(h)
      i += 1
    }
    out
  }

  /** Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): over the
    * position-ordered k-gram hashes, each window of `w` consecutive hashes
    * selects its minimum (rightmost on ties, UNSIGNED compare — matching the
    * SQL oracle's HUGEINT order); the distinct selected hashes, sorted
    * (signed), are the document's fingerprints. Guarantee: any substring
    * match of length >= k + w - 1 shares at least one fingerprint. Fewer
    * than `w` hashes form a single truncated window. O(len * w), w is small.
    */
  def winnow(s: String, k: Int, w: Int): Array[Long] = {
    val hs = charShingles(s, k)
    if (hs.isEmpty) return Array.emptyLongArray
    val nWin = math.max(hs.length - w + 1, 1)
    // rightmost-tie argmins are non-decreasing across consecutive windows
    // (a smaller-or-equal hash left of the previous pick would have won the
    // previous window too), so `p != lastP` admits each position at most
    // once, in position order — a flat long buffer, no boxed set
    val sel = new Array[Long](nWin)
    var nSel = 0
    var ws = 0
    var lastP = -1
    while (ws < nWin) {
      val end = math.min(ws + w, hs.length)
      var p = ws
      var j = ws + 1
      while (j < end) {
        if (java.lang.Long.compareUnsigned(hs(j), hs(p)) <= 0) p = j
        j += 1
      }
      if (p != lastP) { sel(nSel) = hs(p); nSel = nSel + 1; lastP = p }
      ws += 1
    }
    // same hash can recur at different positions: sort + in-place dedupe
    java.util.Arrays.sort(sel, 0, nSel)
    var wIdx = 1
    var i = 1
    while (i < nSel) {
      if (sel(i) != sel(wIdx - 1)) { sel(wIdx) = sel(i); wIdx += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(sel, if (nSel == 0) 0 else wIdx)
  }

  /** MinHash signature over char n-gram shingles: sig(j) = min over shingles of
    * mix64(shingle ^ seed_j). Empty text -> Long.MaxValue lanes.
    */
  def minhash(s: String, numHashes: Int, shingle: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val sh = charShingles(s, shingle)
    // lane-outer loop: the running minimum lives in a register instead of a
    // per-shingle array load/store, and the shingle array (L1/L2-resident for
    // normal documents) streams once per lane — same mix64(shingle ^ seed_j)
    // values, same minima, bit-identical signature
    var j = 0
    while (j < numHashes) {
      val seed = j * 0xa54ff53a5f1d36f1L
      var m = Long.MaxValue
      var i = 0
      while (i < sh.length) {
        val h = mix64(sh(i) ^ seed)
        if (h < m) m = h
        i += 1
      }
      sig(j) = m
      j += 1
    }
    sig
  }

  /** 64-bit SimHash over whitespace tokens. */
  def simhash(s: String): Long = {
    if (s == null) return 0L
    val counts = new Array[Int](64)
    var start = 0
    val len = s.length
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n') {
        if (i > start) {
          var h = 0L
          var j = start
          while (j < i) { h = h * 31 + s.charAt(j); j += 1 }
          h = mix64(h)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Distinct sorted shingles (primitive longs — no boxing). */
  def sortedShingles(s: String, n: Int): Array[Long] = {
    val sh = charShingles(s, n)
    if (sh.isEmpty) sh
    else {
      java.util.Arrays.sort(sh)
      var w = 1
      var i = 1
      while (i < sh.length) {
        if (sh(i) != sh(w - 1)) { sh(w) = sh(i); w += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(sh, w)
    }
  }

  // LSH verify evaluates each doc's shingles against ~dozens of partners;
  // memoize per thread (keyed by content hash, equality-checked)
  private val shingleCache = ThreadLocal.withInitial[java.util.LinkedHashMap[Long, (String, Array[Long])]](() =>
    new java.util.LinkedHashMap[Long, (String, Array[Long])](256, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, (String, Array[Long])]): Boolean = size() > 192
    })

  def cachedSortedShingles(s: String, n: Int): Array[Long] = {
    val key = fingerprint(s) ^ (n.toLong << 56)
    val m = shingleCache.get()
    val hit = m.get(key)
    if (hit != null && hit._1 == s) hit._2
    else {
      val sh = sortedShingles(s, n)
      m.put(key, (s, sh))
      sh
    }
  }

  /** Exact n-gram Jaccard similarity between two strings (distinct shingles),
    * via sorted-array merge intersection.
    */
  def jaccard(a: String, b: String, shingle: Int): Double =
    jaccardSorted(cachedSortedShingles(a, shingle), cachedSortedShingles(b, shingle))

  /** Jaccard of two sorted distinct-long arrays (merge intersection). */
  def jaccardSorted(sa: Array[Long], sb: Array[Long]): Double = {
    if (sa.isEmpty && sb.isEmpty) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else if (sa(i) < sb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (sa.length + sb.length - inter)
  }

  /** splitmix64(v ^ salt) >>> 11 scaled by 2^-53: uniform in [0,1), a PURE
    * FUNCTION of (v, salt); the `hash_uniform` kernel.
    */
  def hashUniform(v: Long, salt: Long): Double =
    (mix64(v ^ salt) >>> 11) * (1.0 / (1L << 53))

  /** Rolling-hash fingerprint of the full document (winnowing-free baseline). */
  def fingerprint(s: String): Long = {
    if (s == null) return 0L
    var h = 0L
    var i = 0
    while (i < s.length) { h = h * 1315423911L + s.charAt(i); i += 1 }
    mix64(h)
  }

  // ---- language id: tiny stopword-profile heuristic ----
  // Ordered: ties break to the EARLIER profile (en > es > de > fr > it), a
  // documented total order that a SQL oracle can mirror with cascaded >=.
  private val Profiles: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "was", "on"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "los", "del", "las", "por", "un", "para"),
    "de" -> Set("der", "die", "und", "das", "von", "zu", "mit", "den", "im", "für", "ist", "des"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "en", "un", "une", "du", "que", "est"),
    "it" -> Set("il", "di", "che", "la", "per", "non", "con", "una", "del", "gli", "più", "nel"))

  /** Best-scoring stopword profile; "und" = undetermined (no hits). */
  def langId(s: String): String = {
    if (s == null || s.isEmpty) return "und"
    val tokens = s.toLowerCase(java.util.Locale.ROOT).split("\\s+").take(500)
    var best = "und"
    var bestScore = 0
    Profiles.foreach { case (lang, stops) =>
      val score = tokens.count(stops.contains)
      if (score > bestScore) { best = lang; bestScore = score }
    }
    best
  }
  // ---- SQL kernels: one per FunctionTable row, over Catalyst's internal
  // values (UTF8String, ArrayData, MapData); the table turns each into a
  // StaticInvoke, so they run inside whole-stage codegen ----

  def minhashSig(s: UTF8String, numHashes: Int, shingle: Int): ArrayData =
    new GenericArrayData(minhash(s.toString, numHashes, shingle))

  /** MinHash LSH band hashes in ONE pass: sig once, then one 64-bit hash per
    * band slice. (Composing minhash_sig + per-band slice as separate columns lets
    * project-collapse inline the signature into each band lane — measured 16x
    * recompute.)
    */
  def minhashBands(s: UTF8String, numHashes: Int, bands: Int, shingle: Int): ArrayData = {
    val rows = numHashes / bands
    val sig = minhash(s.toString, numHashes, shingle)
    val out = new Array[Long](bands)
    var bi = 0
    while (bi < bands) {
      var h = 0x100000001b3L * (bi + 1)
      var j = 0
      while (j < rows) { h = mix64(h ^ sig(bi * rows + j)); j += 1 }
      out(bi) = h
      bi += 1
    }
    new GenericArrayData(out)
  }

  def simhash64(s: UTF8String): Long = simhash(s.toString)

  /** (sig, band0..band3) in one pass — sibling of [[minhashBands]]: computing
    * band slices as separate columns re-evaluates simhash per band after
    * project-collapse.
    */
  def simhashBands(s: UTF8String): ArrayData = {
    val sig = simhash(s.toString)
    new GenericArrayData(Array(sig, sig & 0xffffL, (sig >>> 16) & 0xffffL,
      (sig >>> 32) & 0xffffL, (sig >>> 48) & 0xffffL))
  }

  def ngramJaccard(a: UTF8String, b: UTF8String, shingle: Int): Double =
    jaccard(a.toString, b.toString, shingle)

  /** Exact Jaccard over two PRE-COMPUTED sorted distinct-shingle arrays (the
    * [[shingleSet]] output): one linear merge intersection per pair. By
    * definition `array_jaccard(char_shingles(a, k), char_shingles(b, k)) ==
    * ngram_jaccard(a, b, k)` — same sets, same ratio — but the per-document
    * shingle set is computed ONCE where the array column is materialized
    * (e.g. a verify join's build side) instead of re-derived from text for
    * every candidate pair; the LSH verify at bench SF measured ~12 s of CPU
    * re-shingling behind a thrashing memo cache.
    */
  def arrayJaccard(a: ArrayData, b: ArrayData): Double = jaccardSorted(a.toLongArray(), b.toLongArray())

  /** char_shingles: distinct sorted char n-gram hashes (array<long>) — the
    * exact-overlap key set behind [[vps.ml.Decontam]]; same rolling-hash +
    * splitmix64 pipeline as MinHash shingles, so the SQL oracle mirrors it with
    * the established HUGEINT builders.
    */
  def shingleSet(s: UTF8String, n: Int): ArrayData = new GenericArrayData(sortedShingles(s.toString, n))

  /** Winnowing fingerprints ([[winnow]]): array<long> of the distinct
    * selected k-gram hashes, sorted. The 100-TB shape is a pure map-side scan:
    * fingerprint statistics fold over the array in-place and substring-level
    * candidate pairs come from an (id, fp) explode into the same capped-bucket
    * join the MinHash family uses.
    */
  def winnowFingerprints(s: UTF8String, k: Int, w: Int): ArrayData =
    new GenericArrayData(winnow(s.toString, k, w))

  /** Per-document term frequencies in one pass: map<term, count> over the
    * lowercased single-space tokens (empties dropped) — semantically
    * `explode + groupBy(doc, term).count` with the corpus-sized exchange
    * deleted: the per-doc rollup happens in-row, so the only shuffle left in a
    * vocabulary build is the vocabulary-sized term aggregation
    * ([[vps.text.Vocab.termStatsFused]]).
    */
  def termCounts(s: UTF8String): MapData = {
    // UTF8String.toLowerCase = the lower() builtin's exact semantics
    val str = s.toLowerCase.toString
    val counts = new java.util.LinkedHashMap[String, Long]()
    var i = 0
    val n = str.length
    while (i < n) {
      var j = str.indexOf(' ', i)
      if (j < 0) j = n
      if (j > i) {
        val tok = str.substring(i, j)
        // absent unboxes to 0L; stored counts are always >= 1
        counts.put(tok, counts.get(tok) + 1L)
      }
      i = j + 1
    }
    val keys = new Array[Any](counts.size)
    val vals = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var idx = 0
    while (it.hasNext) {
      val e = it.next()
      keys(idx) = UTF8String.fromString(e.getKey)
      vals(idx) = e.getValue
      idx += 1
    }
    ArrayBasedMapData(keys, vals)
  }

  def docFingerprint(s: UTF8String): Long = fingerprint(s.toString)

  def language(s: UTF8String): UTF8String = UTF8String.fromString(langId(s.toString))

  /** Johnson-Lindenstrauss random projection: embedding -> `outDim` doubles,
    * each the dot with a fixed pseudo-random hyperplane in [-1,1)^dim (the
    * SAME seed-free splitmix64 plane generator the LSH bands use, rows=1), so
    * distances are preserved within the JL bound while downstream ANN /
    * clustering work shrinks by dim/outDim. The plane matrix is derived, never
    * shipped.
    */
  def randomProjection(vec: ArrayData, outDim: Int): ArrayData = {
    val v = vec.toFloatArray()
    val m = Hyperplanes.planes(outDim, 1, v.length)
    val out = new Array[Double](outDim)
    var p = 0
    while (p < outDim) {
      val plane = m(p)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * plane(d); d += 1 }
      out(p) = dot
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Multi-band random-hyperplane LSH buckets of a float-array embedding:
    * array of `bands` longs, each the sign pattern of `rowsPerBand` fixed
    * pseudo-random projections. OR-composition over bands happens downstream
    * (explode + band equi-join).
    */
  def hyperplaneBands(vec: ArrayData, bands: Int, rowsPerBand: Int): ArrayData =
    new GenericArrayData(Hyperplanes.bands(vec.toFloatArray(), bands, rowsPerBand))

  /** Cosine similarity between two float-array embeddings. */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val va = a.toFloatArray()
    val vb = b.toFloatArray()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(va.length, vb.length)
    while (i < n) { dot += va(i) * vb(i); na += va(i) * va(i); nb += vb(i) * vb(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }
}

/** array_pairs: all unordered pairs (i < j) of an array's elements, as
  * array<struct<a, b>>. The LSH-bucket pair generator: a bucket's C(n,2)
  * candidate pairs emerge from ONE aggregated row instead of a bucket
  * self-join, so the (expensive) per-document signatures are computed exactly
  * once. Feed it a sorted array for deterministic (a < b) pair orientation.
  */
final case class ElementPairs(elementType: DataType) {
  def pairs(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val nPairs = n.toLong * (n - 1) / 2
    require(nPairs <= Int.MaxValue - 8, s"array_pairs: $n elements -> $nPairs pairs " +
      "overflows a single array; cap bucket cardinality upstream " +
      "(Dedup maxBucket / collect_capped, or run exact dedup first)")
    val out = new Array[Any](nPairs.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      val ei = a.get(i, elementType)
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(ei, a.get(j, elementType))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
object ElementPairs {
  def of(args: Seq[Expression]): ElementPairs =
    ElementPairs(args.head.dataType.asInstanceOf[ArrayType].elementType)
  /** A pair's fields are nullable when the array's elements are. */
  def resultType(args: Seq[DataType]): DataType = {
    val ArrayType(e, nulls) = args.head
    ArrayType(StructType(Seq(StructField("a", e, nulls), StructField("b", e, nulls))), containsNull = false)
  }
}

object CollectCapped {
  /** Flat long storage: `n` elements of `stride` longs each. `overflowed`
    * groups have freed their storage.
    */
  final class Buffer(var overflowed: Boolean, var n: Int, var vals: Array[Long])
}

object KeepSmallest {
  /** Binary max-heap over `(keyBits, id)` pairs, compared as signed longs
    * (lexicographic). keyBits is the total-order transform of any double key
    * (see [[KeepSmallest.update]]): signed-long order equals numeric order,
    * -0.0 and +0.0 share a slot, and NaN of either sign sorts last. Root =
    * largest kept pair, so a better candidate replaces the root in O(log cap).
    */
  final class Buffer(var n: Int, var keys: Array[Long], var ids: Array[Long]) {
    @inline private def gt(k1: Long, i1: Long, k2: Long, i2: Long): Boolean =
      k1 > k2 || (k1 == k2 && i1 > i2)

    private def siftDown(i0: Int): Unit = {
      var i = i0
      while (true) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < n && gt(keys(l), ids(l), keys(m), ids(m))) m = l
        if (r < n && gt(keys(r), ids(r), keys(m), ids(m))) m = r
        if (m == i) return
        val tk = keys(i); keys(i) = keys(m); keys(m) = tk
        val ti = ids(i); ids(i) = ids(m); ids(m) = ti
        i = m
      }
    }

    def offer(cap: Int, key: Long, id: Long): Unit = {
      if (n < cap) {
        keys(n) = key; ids(n) = id
        n += 1
        var i = n - 1 // sift up
        while (i > 0) {
          val p = (i - 1) / 2
          if (gt(keys(i), ids(i), keys(p), ids(p))) {
            val tk = keys(i); keys(i) = keys(p); keys(p) = tk
            val ti = ids(i); ids(i) = ids(p); ids(p) = ti
            i = p
          } else i = 0
        }
      } else if (gt(keys(0), ids(0), key, id)) {
        keys(0) = key; ids(0) = id
        siftDown(0)
      }
    }
  }
}

/** Bounded top-k-smallest aggregate: keeps the `cap` pairs `(key, id)` with
  * the smallest `(key, id)` per group and evaluates to the kept ids sorted by
  * that order. The per-domain frequency-cap core ([[vps.text.UrlOps]]): state
  * is a fixed max-heap of `cap` pairs, partial aggregation combines map-side,
  * so a domain with 10^9 documents costs O(cap) memory per map partition and
  * O(cap) bytes on the wire — no reducer ever sees the hot domain's rows.
  * Deterministic: the kept set depends only on the group's (key, id) multiset,
  * never on partitioning (ties on key break by id).
  */
case class KeepSmallest(
    key: Expression,
    id: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[KeepSmallest.Buffer]
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
  import KeepSmallest.Buffer
  require(cap > 0, "keep_smallest: cap must be positive")

  override def left: Expression = key
  override def right: Expression = id
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (key.dataType == DoubleType && id.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"keep_smallest needs (double key, bigint id), got (${key.dataType}, ${id.dataType})")
  }

  override def createAggregationBuffer(): Buffer =
    new Buffer(0, new Array[Long](cap), new Array[Long](cap))

  override def update(b: Buffer, input: InternalRow): Buffer = {
    val k = key.eval(input)
    val i = id.eval(input)
    if (k != null && i != null) {
      // total-order transform: non-negative doubles compare identically to
      // their raw bit patterns (unchanged); negative doubles have REVERSED
      // bit order, so mirror them below zero (Long.MinValue - bits) — the
      // public keep_smallest(key, id, cap) contract accepts any double key,
      // not just the hash_uniform [0,1) internal callers pass. (-0.0 maps to
      // +0.0's slot, matching IEEE ==; NaN is canonicalized via
      // doubleToLongBits so BOTH sign-bit encodings sort last, above
      // +Infinity — a raw negative-bit NaN would otherwise mirror below
      // -Infinity and squat in the kept set.)
      val kd = k.asInstanceOf[Double]
      val kb0 = java.lang.Double.doubleToLongBits(kd) // canonical NaN bits
      val kb = if (kb0 < 0) java.lang.Long.MIN_VALUE - kb0 else kb0
      b.offer(cap, kb, i.asInstanceOf[Long])
    }
    b
  }

  override def merge(b: Buffer, o: Buffer): Buffer = {
    var i = 0
    while (i < o.n) { b.offer(cap, o.keys(i), o.ids(i)); i += 1 }
    b
  }

  override def eval(b: Buffer): Any = {
    val idx = Array.range(0, b.n).sortWith { (x, y) =>
      b.keys(x) < b.keys(y) || (b.keys(x) == b.keys(y) && b.ids(x) < b.ids(y))
    }
    val out = new Array[Long](b.n)
    var i = 0
    while (i < b.n) { out(i) = b.ids(idx(i)); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(b: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + b.n * 16)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putLong(b.keys(i)); bb.putLong(b.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val keys = new Array[Long](math.max(n, cap))
    val ids = new Array[Long](math.max(n, cap))
    var i = 0
    while (i < n) { keys(i) = bb.getLong(); ids(i) = bb.getLong(); i += 1 }
    new Buffer(n, keys, ids)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KeepSmallest =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KeepSmallest =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(key = l, id = r)
}

/** Bounded collect_list: gathers at most `cap` elements per group and
  * evaluates to NULL once the group exceeds the cap — the buffer is freed at
  * overflow, so a mega-duplicate class (one LSH bucket holding millions of
  * ids) costs O(cap) memory in the map-side partial AND the final merge,
  * instead of an unbounded aggregation array followed by a C(n,2) pair
  * explosion. Overflow is deterministic: a group evaluates to NULL iff its
  * total cardinality exceeds `cap`, regardless of partitioning.
  *
  * Elements must be bigint or a struct of bigints (the LSH `id` /
  * `(id, sig)` shapes) — fixed-stride storage keeps (de)serialization a flat
  * long-array copy.
  */
case class CollectCapped(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[CollectCapped.Buffer]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import CollectCapped.Buffer
  require(cap > 0, "collect_capped: cap must be positive")

  private lazy val stride: Int = child.dataType match {
    case LongType => 1
    case s: StructType if s.fields.nonEmpty && s.fields.forall(_.dataType == LongType) => s.length
    case other => throw new IllegalArgumentException(
      s"collect_capped supports bigint or struct<bigint,...> elements, got $other")
  }

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  override def createAggregationBuffer(): Buffer =
    new Buffer(false, 0, new Array[Long](math.min(cap, 16) * stride))

  private def overflow(b: Buffer): Buffer = {
    b.overflowed = true; b.n = 0; b.vals = Array.emptyLongArray; b
  }

  private def ensure(b: Buffer, extra: Int): Unit = {
    val need = (b.n + extra) * stride
    if (need > b.vals.length) {
      val grown = new Array[Long](math.min(math.max(b.vals.length * 2, need), cap * stride))
      System.arraycopy(b.vals, 0, grown, 0, b.n * stride)
      b.vals = grown
    }
  }

  override def update(b: Buffer, input: InternalRow): Buffer = {
    if (b.overflowed) return b
    val v = child.eval(input)
    if (v == null) return b // collect_list semantics: nulls skipped
    if (b.n >= cap) return overflow(b)
    ensure(b, 1)
    val base = b.n * stride
    if (stride == 1) b.vals(base) = v.asInstanceOf[Long]
    else {
      val row = v.asInstanceOf[InternalRow]
      var i = 0
      while (i < stride) { b.vals(base + i) = row.getLong(i); i += 1 }
    }
    b.n += 1
    b
  }

  override def merge(b: Buffer, o: Buffer): Buffer = {
    if (b.overflowed || o.overflowed || b.n + o.n > cap) return overflow(b)
    ensure(b, o.n)
    System.arraycopy(o.vals, 0, b.vals, b.n * stride, o.n * stride)
    b.n += o.n
    b
  }

  override def eval(b: Buffer): Any = {
    if (b.overflowed) return null
    if (stride == 1) {
      val out = new Array[Long](b.n)
      System.arraycopy(b.vals, 0, out, 0, b.n)
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](b.n)
      var i = 0
      while (i < b.n) {
        val fields = new Array[Any](stride)
        var f = 0
        while (f < stride) { fields(f) = b.vals(i * stride + f); f += 1 }
        out(i) = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(fields))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override def serialize(b: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(5 + b.n * stride * 8)
    bb.put(if (b.overflowed) 1.toByte else 0.toByte)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n * stride) { bb.putLong(b.vals(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val overflowed = bb.get() == 1
    val n = bb.getInt()
    val vals = new Array[Long](n * stride)
    var i = 0
    while (i < vals.length) { vals(i) = bb.getLong(); i += 1 }
    new Buffer(overflowed, n, vals)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** not_dropped, the filter companion to [[CollectCapped]]: true when the
  * bucket array is non-null AND holds at least `minSize` elements; a NULL
  * (= overflowed) bucket ticks the channel's accumulator and is dropped, so
  * capped-out LSH buckets are COUNTED, never silent.
  *
  * The size threshold is folded INTO this kernel (rather than a separate
  * `size(ids) > 1` conjunct) so the optimizer cannot split the filter and
  * discard NULL rows on the cheap conjunct before the counter ticks —
  * the count has exactly one evaluation site.
  *
  * Count-error directions: task retries / plan re-execution can OVER-count
  * (accumulator semantics — this is a metric, not data); it can never
  * UNDER-count, because no other predicate sees the row first.
  */
final case class BucketFilter(channel: Option[vps.geom.ErrorChannel], minSize: Int) {
  def keep(ids: ArrayData): Boolean =
    if (ids == null) { channel.foreach(_.increment()); false }
    else ids.numElements() >= minSize
}

/** Fixed pseudo-random hyperplane components for multi-band sign LSH over
  * embeddings. Seed-free (mix64 of the (band, plane, dim) index), so buckets
  * reproduce across runs and cluster sizes; memoized per (bands, rows, dim)
  * since the matrix is a pure function of its shape.
  */
object Hyperplanes {
  private val cache = new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  /** planes(band * rows + r)(d) in [-1, 1). */
  def planes(bands: Int, rows: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((bands, rows, dim), { _ =>
      Array.tabulate(bands * rows) { p =>
        Array.tabulate(dim) { d =>
          val h = TextOps.mix64(p.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L)
          ((h >>> 11) * (1.0 / (1L << 53))) * 2.0 - 1.0
        }
      }
    })

  /** Per-band bucket = the sign pattern of `rows` hyperplane projections,
    * packed into a long (rows <= 63).
    */
  def bands(v: Array[Float], bands: Int, rows: Int): Array[Long] = {
    val m = planes(bands, rows, v.length)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var r = 0
      while (r < rows) {
        val plane = m(b * rows + r)
        var dot = 0.0
        var d = 0
        while (d < v.length) { dot += v(d) * plane(d); d += 1 }
        if (dot >= 0) bucket |= (1L << r)
        r += 1
      }
      out(b) = bucket
      b += 1
    }
    out
  }
}

object functions {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.vps.ColumnBridge.{column => c, expression => ex}
  import vps.sql.FunctionTable.{call, callWith}

  /** splitmix64(id ^ salt) scaled to [0,1) — the deterministic uniform behind
    * [[vps.ml.Sampling]]: a pure function of the row's identity, so samples and
    * splits reproduce across runs, partitionings, and cluster sizes (unlike
    * `df.sample`, which is partition-order dependent).
    */
  def hash_uniform(id: Column, salt: Long): Column = call("hash_uniform", id, lit(salt))
  def char_shingles(text: Column, n: Int): Column = call("char_shingles", text, lit(n))
  def minhash_sig(text: Column, numHashes: Int, shingle: Int): Column =
    call("minhash_sig", text, lit(numHashes), lit(shingle))
  def minhash_bands(text: Column, numHashes: Int, bands: Int, shingle: Int): Column =
    call("minhash_bands", text, lit(numHashes), lit(bands), lit(shingle))
  def simhash64(text: Column): Column = call("simhash64", text)
  /** [sig, band0, band1, band2, band3] in one pass. */
  def simhash_bands(text: Column): Column = call("simhash_bands", text)
  def ngram_jaccard(a: Column, b: Column, shingle: Int): Column =
    call("ngram_jaccard", a, b, lit(shingle))
  def array_jaccard(a: Column, b: Column): Column = call("array_jaccard", a, b)
  def doc_fingerprint(text: Column): Column = call("doc_fingerprint", text)
  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    call("winnow_fingerprints", text, lit(k), lit(w))
  def term_counts(text: Column): Column = call("term_counts", text)
  def lang_id(text: Column): Column = call("lang_id", text)
  def cosine_sim(a: Column, b: Column): Column = call("cosine_sim", a, b)
  def random_projection(v: Column, outDim: Int): Column = call("random_projection", v, lit(outDim))
  def hyperplane_bands(v: Column, bands: Int, rowsPerBand: Int): Column =
    call("hyperplane_bands", v, lit(bands), lit(rowsPerBand))
  /** All unordered element pairs (i < j) as array<struct<a, b>>. */
  def array_pairs(arr: Column): Column = call("array_pairs", arr)
  /** Bounded top-k-smallest `(key, id)` aggregate ([[KeepSmallest]]). */
  def keep_smallest(key: Column, id: Column, cap: Int): Column =
    c(KeepSmallest(ex(key), ex(id), cap).toAggregateExpression())
  /** Bounded collect_list (bigint / struct-of-bigint elements): NULL once the
    * group exceeds `cap`, with O(cap) aggregation state everywhere.
    */
  def collect_capped(e: Column, cap: Int): Column =
    c(CollectCapped(ex(e), cap).toAggregateExpression())
  /** Keep bucket rows with >= `minSize` elements; count NULL (capped-out)
    * ones on `channel`. The size check lives inside the expression so the
    * counter cannot be starved by filter-conjunct reordering.
    */
  def not_dropped(e: Column, channel: Option[vps.geom.ErrorChannel] = None,
      minSize: Int = 2): Column =
    callWith("not_dropped", BucketFilter(channel, minSize))(e)

  /** whitespace token count as a pure builtin composition (oracle-friendly). */
  def token_count(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** GPT-2-style pre-tokenizer regex (the "BPE-ish" count a training-data
    * pipeline budgets with): a token is an optional leading space + a letter
    * run, digit run, or other-symbol run. Pure builtin
    * (`regexp_extract_all`), lookahead-free so RE2-based engines (DuckDB)
    * evaluate the identical pattern — DuckDB-oracle-able.
    */
  val BpeTokenPattern = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
  def token_count_bpe(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))

  /** Gopher/C4-style repetition signal: the fraction of character n-grams
    * that are duplicates, `1 - distinct/total` (0 for texts shorter than n).
    * Pure builtin composition (`sequence` -> `transform`/`substr` ->
    * `array_distinct`), so DuckDB recomputes it exactly with
    * generate_series/list_transform/list_distinct. Boilerplate-heavy pages
    * score high; natural prose scores low — the classic pre-training
    * quality filter alongside [[quality_features]].
    *
    * The short-text guard matters: Spark's `sequence(1, 0)` steps DOWNWARD
    * (returns [1, 0]), so the gram list is only built when length >= n.
    *
    * Memory is O(len x n) chars per row (the transient gram array) — fine
    * for web-document lengths; for book-length texts compute the signal on
    * a bounded prefix (`substring`) or via [[doc_fingerprint]]-style rolling
    * hashes instead.
    */
  def char_ngram_repetition(text: Column, n: Int): Column = {
    require(n >= 1, s"char_ngram_repetition: bad n $n")
    val total = length(text) - (n - 1)
    val grams = transform(sequence(lit(1), total), i => text.substr(i, lit(n)))
    when(total <= 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(grams)).cast("double") / total.cast("double"))
  }

  /** Quality heuristics: length, tokens, mean token length, punctuation &
    * stopword-ish ratios — all builtin compositions.
    */
  def quality_features(text: Column): Column = {
    val toks = token_count(text)
    val punct = length(text) - length(regexp_replace(text, "[\\.,;:!?]", ""))
    struct(
      length(text).as("n_chars"),
      toks.as("n_tokens"),
      (length(text).cast("double") / greatest(toks, lit(1))).as("chars_per_token"),
      (punct.cast("double") / greatest(length(text), lit(1))).as("punct_ratio"))
  }
}

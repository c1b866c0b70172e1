package vps.ml

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import vps.SparkTestSession
import vps.text.TextOps
import vps.text.functions._

class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  test("exact dedup finds planted duplicates") {
    val base = docs.select($"doc_id".as("id"), $"text")
    // plant: copy texts of docs 0..9 as new ids 10000..10009
    val dups = base.where($"id" < 10).select(($"id" + 10000).as("id"), $"text")
    val all = base.union(dups)
    val found = Dedup.exactDuplicates(all)
    assert(found.count() >= 10)
    // membership is relational (rows, not a per-group array)
    val members = Dedup.exactDuplicateMembership(all)
      .select($"keep_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0 until 10).foreach { i =>
      assert(members(i.toLong).contains(i + 10000L), s"group of $i should contain its copy")
      assert(members(i.toLong).contains(i.toLong))
    }
  }

  test("minhash estimates jaccard; LSH finds near-duplicates") {
    // unit: identical strings -> sig equal; disjoint -> sigs differ
    val a = TextOps.minhash("the quick brown fox jumps over the lazy dog", 64, 5)
    val b = TextOps.minhash("the quick brown fox jumps over the lazy dog", 64, 5)
    assert(a.toSeq === b.toSeq)
    // estimate roughly tracks exact jaccard on a perturbed string
    val s1 = "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    val s2 = "the quick brown fox jumps over the lazy cat and runs far away into the woods"
    val exact = TextOps.jaccard(s1, s2, 5)
    val est = TextOps.minhash(s1, 256, 5).zip(TextOps.minhash(s2, 256, 5)).count { case (x, y) => x == y } / 256.0
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")

    // end-to-end LSH: perturbed copies found, unrelated not
    val base = docs.select($"doc_id".as("id"), $"text").where($"id" < 50)
    val nearDups = base.select(($"id" + 5000).as("id"),
      concat($"text", lit(" tiny suffix")).as("text"))
    val all = base.union(nearDups)
    val pairs = Dedup.minhashCandidates(all, minJaccard = 0.6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 50).map(i => (i.toLong, i + 5000L)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall > 0.9, s"recall=$recall")
  }

  test("simhash hamming blocking finds near-identical docs") {
    val base = docs.select($"doc_id".as("id"), $"text").where($"id" < 50)
    val copies = base.select(($"id" + 7000).as("id"), $"text") // identical -> hamming 0
    val pairs = Dedup.simhashCandidates(base.union(copies), maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    (0 until 50).foreach { i => assert(pairs.contains((i.toLong, i + 7000L)), s"missing pair $i") }
  }

  test("embedding near-dup via hyperplane LSH blocking + exact cosine") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = vecs.where($"vec_id" < 20)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding", $"label")
    val pairs = Dedup.embeddingNearDuplicates(vecs.union(planted), minCosine = 0.999)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // 100% recall on planted identical copies
    (0 until 20).foreach { i => assert(pairs.contains((i.toLong, i + 9000L))) }
  }

  test("embedding near-dup: sign-flip adversarial pair caught; band buckets bounded") {
    // a true near-dup differing ONLY in a near-zero early dimension: a single
    // axis-aligned sign band (the old blocking) silently misses it; OR over
    // multiple random-hyperplane bands must not
    val dim = 16
    val base = Array.tabulate(dim)(d => if (d == 0) 1e-6f else math.sin(d + 1.0).toFloat)
    val flipped = base.clone(); flipped(0) = -1e-6f
    val rows = Seq((1L, base.toSeq), (2L, flipped.toSeq)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val pairs = Dedup.embeddingNearDuplicates(rows, minCosine = 0.999)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "sign-flip adversarial near-dup must be caught")

    // bucket-size histogram bounded: 16 sign bits per band keep the
    // within-bucket self-join far from quadratic
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = vecs.count()
    val maxBucket = vecs
      .select(posexplode(hyperplane_bands($"embedding", 8, 16)).as(Seq("band", "bucket")))
      .groupBy($"band", $"bucket").count()
      .agg(max($"count")).as[Long].head()
    assert(maxBucket <= n / 2, s"max bucket $maxBucket of $n — blocking degenerate")
  }

  test("bruteTopK matches a local oracle; ivf with full probe matches brute") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val queries = vecs.where($"vec_id" < 3).select($"vec_id".as("query_id"), $"embedding")
    val k = 5
    val got = VectorSearch.bruteTopK(vecs, queries, k)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

    val all = vecs.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def cosL(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    (0L until 3L).foreach { qid =>
      val qv = all.find(_._1 == qid).get._2
      val expected = all.map { case (id, v) => (-cosL(v, qv), id) }.sorted.take(k).map(_._2).toSeq
      assert(got(qid) === expected, s"query $qid")
    }

    val ivfFull = VectorSearch.ivfTopK(vecs, queries, k, numCentroids = 8, nProbe = 8)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(ivfFull === got)

    // partial probe: top-1 self-hit always survives
    val ivfPart = VectorSearch.ivfTopK(vecs, queries, k, numCentroids = 8, nProbe = 2)
      .where($"rank" === 1).select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 3L).foreach(q => assert(ivfPart(q) === q))
  }

  test("ivf recall: >=0.9 at nProbe=4 on clustered data (uniform data has no structure to exploit)") {
    // 16 deterministic centers + noise -> cosine-tight clusters. The sf
    // embeddings are uniform-random (true top-10 label agreement == chance),
    // where no coarse quantizer concentrates neighbors; recall targets only
    // make sense where structure exists.
    val dim = 32
    val centers = vps.text.Hyperplanes.planes(16, 1, dim)
    val clustered = (0 until 1000).map { i =>
      val c = centers(i % 16)
      val v = Array.tabulate(dim) { d =>
        val h = TextOps.mix64(i.toLong * 1315423911L + d)
        (c(d) + 0.15 * (((h >>> 11) * (1.0 / (1L << 53))) * 2 - 1)).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = clustered.where($"vec_id" < 16)
      .select($"vec_id".as("query_id"), $"embedding")
    val recall = VectorSearch.recallAtK(clustered, queries, k = 10,
      numCentroids = 16, nProbes = Seq(4), trainIters = 3).head._2
    assert(recall >= 0.9, s"recall@10 nProbe=4 was $recall")
  }

  test("LSH hot bucket is bounded: a planted mega-duplicate class is dropped and counted") {
    // 10^4 byte-identical docs: every one lands in the SAME (band, bucket) for
    // all 16 bands. Uncapped, that is one 10^4-id aggregation buffer and
    // C(10^4, 2) ≈ 5*10^7 pairs PER BAND; capped, the buckets drop (counted)
    // and the normal corpus is unaffected.
    val mega = spark.range(0, 10000)
      .select(($"id" + 500000L).as("id"), lit("identical boilerplate page body").as("text"))
    val base = docs.select($"doc_id".as("id"), $"text").where($"id" < 50)
    val near = base.select(($"id" + 5000).as("id"), concat($"text", lit(" tiny suffix")).as("text"))
    val channel = vps.geom.GeomErrors.channel(spark, "lsh-dropped")

    val pairs = Dedup.minhashCandidates(base.union(near).union(mega),
      minJaccard = 0.6, maxBucket = 256, droppedBuckets = Some(channel))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(channel.count > 0, "mega-class buckets must be counted as dropped")
    // no pair from inside the mega class survived (both ids >= 500000)
    assert(!pairs.exists { case (a, b) => a >= 500000L && b >= 500000L })
    // the normal planted near-dups are still found
    val planted = (0 until 50).map(i => (i.toLong, i + 5000L)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall > 0.9, s"recall=$recall")
    // the documented composition: the mega class IS caught by exact dedup
    val exact = Dedup.exactDuplicates(mega).select($"n").as[Long].head()
    assert(exact === 10000L)

    // no channel supplied: the auto-registered accumulator path must still
    // bound the bucket (no pair explosion, no exception)
    val noChannel = Dedup.minhashCandidates(mega, minJaccard = 0.6, maxBucket = 4)
      .select($"id_a").limit(1).collect()
    assert(noChannel.isEmpty, "capped-out mega bucket must yield no pairs")

    // cap high enough -> nothing dropped, results identical to the capped run
    val channel2 = vps.geom.GeomErrors.channel(spark, "lsh-dropped-2")
    val uncapped = Dedup.minhashCandidates(base.union(near), minJaccard = 0.6,
      maxBucket = 1 << 20, droppedBuckets = Some(channel2))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(channel2.count === 0L)
    assert(uncapped === pairs.filter { case (a, b) => a < 500000L && b < 500000L })
  }

  test("each capped-out bucket is counted exactly once per action") {
    // more identical inputs than maxBucket share one bucket in every band (or
    // every winnowing fingerprint), so exactly that many buckets overflow
    val text = "one identical page body, repeated"
    val same = spark.range(0, 40).select($"id", lit(text).as("text"))
    val vecs = spark.range(0, 40).select($"id".as("vec_id"),
      lit(Array.tabulate(16)(d => (d + 1).toFloat)).as("embedding"))
    val cases = Seq[(String, Long, Option[vps.geom.ErrorChannel] => org.apache.spark.sql.DataFrame)](
      ("minhash", 16L, ch => Dedup.minhashCandidates(same, minJaccard = 0.6, bands = 16, maxBucket = 8,
        droppedBuckets = ch)),
      ("simhash", 4L, ch => Dedup.simhashCandidates(same, maxBucket = 8, droppedBuckets = ch)),
      ("embedding", 8L, ch => Dedup.embeddingNearDuplicates(vecs, maxBucket = 8, droppedBuckets = ch)),
      ("winnow", TextOps.winnow(text, 8, 4).length.toLong, ch =>
        Dedup.winnowCandidates(same, minShared = 1, maxBucket = 8, droppedBuckets = ch)))
    cases.foreach { case (name, buckets, candidates) =>
      val channel = vps.geom.GeomErrors.channel(spark, s"lsh-dropped-exact-$name")
      val pairs = candidates(Some(channel)).collect()
      assert(pairs.isEmpty, name)
      assert(channel.count === buckets, name)
    }
  }

  test("headless drop surfacing: nearDuplicateMembershipWithStats exposes the capped-bucket count") {
    // planted mega class + tiny cap: buckets overflow; a caller that never
    // opens the Spark UI reads the loss off the returned channel after any
    // action (the auto channel also warns on the driver log via its job-end
    // listener — same code path)
    val mega = spark.range(0, 200)
      .select(($"id" + 700000L).as("id"), lit("identical page body for stats").as("text"))
    val (members, ch) = Dedup.nearDuplicateMembershipWithStats(
      mega, minJaccard = 0.6, maxBucket = 8)
    val rows = members.count()
    assert(ch.count > 0L, "capped buckets must be visible on the returned channel")
    assert(rows === 0L, "all pairs lived in capped buckets")
    // the registry hands back the SAME channel for this app (no accumulator
    // stacking across repeated query builds)
    assert(Dedup.autoChannel(spark, "minhash") eq ch)
  }

  test("embedding near-dup chains group transitively via connected components") {
    // rotating chain v0..v3 (5-degree steps in a 2D subspace): consecutive
    // cosines 0.996 pass minCosine=0.99, 2-apart (0.985) and endpoint (0.966)
    // pairs do NOT — grouping the four ids requires transitive resolution
    val dim = 16
    def vec(i: Int): Seq[Float] = {
      val th = math.toRadians(5.0 * i)
      Array.tabulate(dim)(d =>
        if (d == 0) math.cos(th).toFloat else if (d == 1) math.sin(th).toFloat else 0.0f).toSeq
    }
    // two far vectors that must stay out of the group
    val far1 = Array.tabulate(dim)(d => if (d == 2) 1.0f else 0.0f).toSeq
    val far2 = Array.tabulate(dim)(d => if (d == 3) -1.0f else 0.0f).toSeq
    val rows = ((1 to 4).map(i => (i.toLong, vec(i))) ++ Seq((50L, far1), (60L, far2)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val pairs = Dedup.embeddingNearDuplicates(rows, minCosine = 0.99)
    val pairSet = pairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert((1 to 3).forall(i => pairSet.contains((i.toLong, i + 1L))), s"consecutive pairs: $pairSet")
    assert(!pairSet.contains((1L, 4L)), "endpoints must not be directly paired")
    val members = Components.connectedComponents(pairs)
      .select($"id", $"component").as[(Long, Long)].collect().toMap
    assert(members === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"chain must resolve to one group with keep_id 1: $members")
  }

  test("array_pairs refuses a pair count that overflows one array") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, RuntimeReplaceable}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import org.apache.spark.sql.vps.ColumnBridge
    val big = Literal.create(new GenericArrayData((0L until 70000L).toArray), ArrayType(LongType))
    // the planned array_pairs kernel call, evaluated as the interpreter does
    val kernel = ColumnBridge.expression(array_pairs(ColumnBridge.column(big)))
      .asInstanceOf[RuntimeReplaceable].replacement
    val e = intercept[IllegalArgumentException] {
      kernel.eval(null)
    }
    assert(e.getMessage.contains("overflows"), e.getMessage)
  }

  test("kmeans|| init matches or beats the hash-sample init at equal Lloyd budget") {
    val dim = 32
    val centers = vps.text.Hyperplanes.planes(16, 1, dim)
    val clustered = (0 until 1000).map { i =>
      val c = centers(i % 16)
      val v = Array.tabulate(dim) { d =>
        val h = TextOps.mix64(i.toLong * 1315423911L + d)
        (c(d) + 0.15 * (((h >>> 11) * (1.0 / (1L << 53))) * 2 - 1)).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = clustered.where($"vec_id" < 16)
      .select($"vec_id".as("query_id"), $"embedding")
    // one Lloyd pass each: the init quality is what differs
    val hashInit = VectorSearch.recallAtK(clustered, queries, k = 10,
      numCentroids = 16, nProbes = Seq(1, 2), trainIters = 1).toMap
    val kmpp = VectorSearch.recallAtK(clustered, queries, k = 10,
      numCentroids = 16, nProbes = Seq(1, 2), trainIters = 1, initRounds = 3).toMap
    info(s"hash-init recall@10: $hashInit ; kmeans|| recall@10: $kmpp")
    Seq(1, 2).foreach { np =>
      assert(kmpp(np) >= hashInit(np) - 0.02,
        s"kmeans|| must not regress at nProbe=$np: ${kmpp(np)} vs ${hashInit(np)}")
    }
    assert(kmpp(2) >= 0.9, s"kmeans||+1 Lloyd recall@nProbe=2 was ${kmpp(2)}")
    // determinism: same inputs -> identical centroids
    val a = VectorSearch.kmeansParallelInit(clustered, 16, rounds = 3)
    val b = VectorSearch.kmeansParallelInit(clustered, 16, rounds = 3)
    assert(a.map(_._2.toSeq) === b.map(_._2.toSeq))
  }

  test("persisted IVF index: one build serves many searches; lists scan is partition-pruned") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // literal query vectors, so any corpus access in the search plan would be
    // the index failing to stand on its own
    val queries = vecs.where($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("query_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfidx").toString
    VectorSearch.buildIndex(vecs, idx, numCentroids = 8, trainIters = 2)

    def run() = VectorSearch.searchIndex(spark, idx, queries, k = 3, nProbe = 8)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val r1 = run()
    val r2 = run()
    // full probe == exact: both searches match brute force
    val truth = VectorSearch.bruteTopK(vecs, queries, k = 3)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(r1 === truth && r2 === truth)
    // lineage: the search reads ONLY the persisted index — no corpus scan,
    // hence no retraining anywhere in the plan
    val search = VectorSearch.searchIndex(spark, idx, queries, k = 3, nProbe = 2)
    val plan = search.queryExecution.executedPlan.toString
    assert(plan.contains("lists") && !plan.contains("embeddings.parquet"),
      s"search must read only the index, plan:\n$plan")
    // and the lists scan is pruned to the probed partitions
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"expected a partition-pruned lists scan, plan:\n$plan")
  }

  test("text analysis: lang_id, token_count, fingerprint, quality") {
    assert(TextOps.langId("the cat sat on the mat and it was happy") === "en")
    assert(TextOps.langId("el perro y la casa de los niños en madrid") === "es")
    assert(TextOps.langId("") === "und")
    // tie-break is the documented profile order (en > es > de > fr > it):
    // "la de que" scores es=3 and fr=3 (shared stopwords) -> es wins
    assert(TextOps.langId("la de que") === "es")
    // "le une du" is fr-only vocabulary -> fr despite the es-precedence
    assert(TextOps.langId("le une du") === "fr")
    val row = Seq(("hello world  foo", 3)).toDF("text", "expected")
      .select(token_count($"text").as("n"), doc_fingerprint($"text").as("fp"),
        quality_features($"text").as("q"))
      .select($"n", $"fp", $"q.n_tokens", $"q.punct_ratio").as[(Int, Long, Int, Double)].head()
    assert(row._1 === 3 && row._3 === 3)
    assert(row._2 === TextOps.fingerprint("hello world  foo"))
    assert(row._4 === 0.0)
  }

  test("BPE-ish token count and char-ngram repetition: hand-computed cases") {
    val rows = Seq(
      ("hello world", 2, 0.0), // "hello"+" world"; 10 distinct 2-grams of 10
      ("don't stop!", 5, -1.0), // "don" "'" "t" " stop" "!"
      ("ababababab", 1, 1.0 - 2.0 / 9.0), // one letter run; 9 bigrams, {ab, ba}
      ("aaaaaa", 1, 1.0 - 1.0 / 5.0),
      ("a", 1, 0.0), // shorter than n -> 0 (the sequence(1,0) guard)
      ("", 0, 0.0))
      .toDF("text", "bpe", "rep")
    val got = rows.select($"text", token_count_bpe($"text").as("n"),
      char_ngram_repetition($"text", 2).as("r"), $"bpe", $"rep")
      .as[(String, Int, Double, Int, Double)].collect()
    got.foreach { case (t, n, r, eBpe, eRep) =>
      assert(n === eBpe, s"bpe tokens of '$t'")
      if (eRep >= 0) assert(math.abs(r - eRep) < 1e-12, s"repetition of '$t': $r")
    }
  }
}

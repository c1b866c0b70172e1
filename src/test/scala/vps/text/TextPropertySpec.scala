package vps.text

import org.apache.spark.sql.functions.explode
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import vps.SparkTestSession
import vps.text.functions.keep_smallest

/** Fixed-seed properties of the text kernels against their definitions. */
class TextPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def check(prop: Prop, tests: Int): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(tests)
      .withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  // short strings over a small alphabet, so shingles repeat and overlap;
  // empty strings and strings shorter than n are in range
  private val text: Gen[String] = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' '))).map(_.mkString)

  test("array_jaccard over char_shingles equals ngram_jaccard") {
    check(Prop.forAll(text, text, Gen.choose(1, 5)) { (a, b, n) =>
      val (ua, ub) = (UTF8String.fromString(a), UTF8String.fromString(b))
      val viaSets = TextOps.arrayJaccard(TextOps.shingleSet(ua, n), TextOps.shingleSet(ub, n))
      val direct = TextOps.ngramJaccard(ua, ub, n)
      Prop(viaSets == direct) :| s"'$a' '$b' n=$n: $viaSets != $direct"
    }, 500)
  }

  test("keep_smallest keeps the ids a sort by (key, id) puts first, for any double keys") {
    val negativeNaN = java.lang.Double.longBitsToDouble(0xfff8000000000000L)
    val key = Gen.frequency(
      6 -> Arbitrary.arbitrary[Double],
      3 -> Gen.choose(-2.0, 2.0),
      1 -> Gen.oneOf(-0.0, 0.0, Double.NaN, negativeNaN, Double.NegativeInfinity, Double.PositiveInfinity))
    val rows = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, key)).map(_.zipWithIndex.map {
      case (k, i) => (k, i.toLong * 7 % 41)
    })
    check(Prop.forAll(rows, Gen.choose(1, 8)) { (rs, cap) =>
      val kept = rs.toDF("k", "id").groupBy().agg(keep_smallest($"k", $"id", cap).as("ids"))
        .select(explode($"ids")).as[Long].collect().toSeq
      // -0.0 and +0.0 are one key and every NaN sorts last, as double == and compare say
      val want = rs.sortBy { case (k, id) => (if (k == 0.0) 0.0 else k, id) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)).take(cap).map(_._2)
      Prop(kept == want) :| s"cap=$cap rows=$rs: $kept != $want"
    }, 25)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchExtraSpec extends AnyFunSuite {
  test("BenchExtra names every unknown query argument before any query runs") {
    val declared = SparkEntry.queries.keys.toSeq.sorted
    assert(BenchExtra.unknownQueries(declared.take(2)).isEmpty)
    assert(BenchExtra.unknownQueries(Seq(declared.head, "q15_minhahs_lsh", "q99")) === Seq("q15_minhahs_lsh", "q99"))
  }
}

package graft

import graft.functions.PairGraph
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-point PageRank invariants on controlled graphs the sf
  * oracles don't exercise: hub dominance, mass conservation (up to
  * floor-division leakage), and symmetry.
  */
class PageRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def run(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    PairGraph.using(pairs.toDF("doc_a", "doc_b"))(_.pageRank())
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
  }

  test("star hub outranks leaves; leaves are symmetric") {
    // hub 1 — leaves 2,3,4; plus a detached pair 8—9
    val got = run(Seq((1L, 2L), (1L, 3L), (1L, 4L), (8L, 9L)))
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 8L, 9L))
    assert(got(1L)._1 == 3L && got(2L)._1 == 1L) // degrees
    val leafRanks = Set(got(2L)._2, got(3L)._2, got(4L)._2)
    assert(leafRanks.size == 1, "symmetric leaves must tie exactly")
    assert(got(1L)._2 > got(2L)._2, "hub must outrank a leaf")
    assert(got(8L)._2 == got(9L)._2, "detached pair is symmetric")
  }

  test("total mass is conserved up to floor-division leakage") {
    val got = run(Seq((1L, 2L), (1L, 3L), (1L, 4L), (8L, 9L)))
    val total = got.values.map(_._2).sum
    val n = got.size.toLong
    // each round each node floors once on the teleport term and once
    // per share; with deg ≤ n the per-round leak is < n·(n+1) units
    val maxLeak = PairGraph.PrIters * n * (n + 1)
    assert(total <= PairGraph.PrScale)
    assert(total >= PairGraph.PrScale - maxLeak,
      s"lost more than floor leakage: $total vs ${PairGraph.PrScale}")
  }

  test("regular graph (cycle) is the uniform fixpoint") {
    // 4-cycle: all degrees 2, ranks must be exactly equal
    val got = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(got.values.map(_._2).toSet.size == 1)
  }
}

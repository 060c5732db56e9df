package graft

import graft.functions.PairGraph
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[PairGraph.communities]]'s contract on graphs where
  * the answer is derivable by hand: the inclusive rule's fix for the
  * synchronous 2-cycle, clique agreement with CC, and the ≤-LpRounds
  * hop bound that makes LPA refuse the long chains CC bridges.
  */
class LabelPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def run(pairs: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    import spark.implicits._
    PairGraph.using(pairs.toDF("doc_a", "doc_b"))(_.communities(nodes.toDF("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a duplicate pair settles to the min id; isolated nodes keep their own") {
    // exclusive synchronous LPA oscillates on a pair (labels swap each
    // round — any even round count would split genuine duplicates);
    // the self-vote settles it in round 1
    val m = run(Seq((10L, 20L)), Seq(10L, 20L, 30L))
    assert(m == Map(10L -> 10L, 20L -> 10L, 30L -> 30L))
  }

  test("a duplicate clique collapses to one community (agrees with CC)") {
    val m = run(Seq((1L, 2L), (1L, 3L), (2L, 3L)), Seq(1L, 2L, 3L))
    assert(m.values.toSet == Set(1L))
  }

  test("a long chain is refused where CC bridges it") {
    val nodes = (0L to 6L).toSeq
    val pairs = (0L until 6L).map(i => (i, i + 1))
    val lpa = run(pairs, nodes)
    // labels move at most LpRounds hops per endpoint, so the 6-hop
    // chain cannot collapse to one community...
    assert(lpa.values.toSet.size > 1,
      s"LPA collapsed the 7-node chain: $lpa")
    // ...while transitive closure merges it entirely
    import spark.implicits._
    val cc = PairGraph.using(pairs.toDF("doc_a", "doc_b"))(_.components(nodes.toDF("doc_id")))
      .collect().map(_.getLong(1)).toSet
    assert(cc == Set(0L))
    // and every LPA label is a same-chain node id (labels are always
    // node ids reachable within LpRounds hops)
    assert(lpa.values.forall(nodes.contains))
  }
}

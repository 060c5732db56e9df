package graft

import graft.functions.PairGraph
import graft.queries.DedupQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[PairGraph.kCore]]'s contract on graphs where the
  * answer is derivable by hand (clique self-support, chain cascade,
  * pair fringe) and — on the real fixture graph — that the FIXED
  * round count actually reaches the peel fixpoint, the empirical half
  * of the "rounds are the contract" discipline the oracle pins.
  */
class KCoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  private def run(pairs: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, (Int, Long)] = {
    import spark.implicits._
    PairGraph.using(pairs.toDF("doc_a", "doc_b"))(
        _.kCore(nodes.toDF("doc_id"), PairGraph.KCoreRounds))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
  }

  test("a triangle is self-supporting; pair and chain fringe peel away") {
    // triangle 1-2-3 (each degree 2), a pendant 4 hanging off it,
    // a separate pair (10, 11), and an isolated node 20
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (10L, 11L))
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L)
    val m = run(pairs, nodes)
    assert(m(1L) == ((1, 2L)) && m(2L) == ((1, 2L)) && m(3L) == ((1, 2L)),
      s"triangle must survive the 2-core with within-core degree 2: $m")
    // pendant's only partner is in-core, but its own degree is 1
    assert(m(4L) == ((0, 0L)), s"pendant must peel: $m")
    assert(m(10L) == ((0, 0L)) && m(11L) == ((0, 0L)), s"pair must peel: $m")
    assert(m(20L) == ((0, 0L)), s"isolated node is out of core: $m")
  }

  test("a chain cascades out even when interior degrees start at 2") {
    // path 0-1-2-3-4: interior nodes have degree 2 in round 1, but
    // the ends peel first and the collapse cascades inward — the
    // property that distinguishes k-core from a one-shot degree filter
    val pairs = (0L until 4L).map(i => (i, i + 1))
    val nodes = (0L to 4L).toSeq
    val m = run(pairs, nodes)
    assert(m.values.forall(_ == ((0, 0L))),
      s"a 5-node path has an empty 2-core, peel must cascade: $m")
  }

  test("fixture graph reaches the peel fixpoint within KCoreRounds, non-vacuously") {
    import spark.implicits._
    // the production peel at the contract's round count and one past
    // it, on one graph; each survivor set is freed once collected
    def coreSet(g: PairGraph, rounds: Int): Set[Long] = {
      val alive = g.peel(rounds)
      val out = alive.as[Long].collect().toSet
      CheckpointBridge.unpersistCheckpoint(alive)
      out
    }
    val (atContract, onePast) =
      PairGraph.using(DedupQueries.minhashVerifiedPairs(spark, sf))(g =>
        (coreSet(g, PairGraph.KCoreRounds), coreSet(g, PairGraph.KCoreRounds + 1)))
    assert(atContract == onePast,
      s"fixture peel not at fixpoint after ${PairGraph.KCoreRounds} rounds: " +
        s"${atContract.size} -> ${onePast.size} survivors")
    // non-vacuity: both verdicts live (the 62-triangle fixture graph
    // has a real 2-core, and fringe pairs exist to peel)
    val out = DedupQueries.queries("dedup_kcore")(spark, sf)
      .groupBy(col("in_core")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out.getOrElse(1, 0L) > 0, "fixture 2-core is empty — vacuous entry")
    assert(out.getOrElse(0, 0L) > 0, "nothing peeled — vacuous entry")
  }
}

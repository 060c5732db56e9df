package graft

import graft.functions.PairGraph
import org.scalatest.funsuite.AnyFunSuite

/** The min-label-propagation superstep loop on graphs whose shape the
  * sf oracles don't exercise: long chains (worst-case diameter),
  * multiple components, and singletons.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def run(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    import spark.implicits._
    val labels = PairGraph.using(edges.toDF("a", "b"))(_.components(nodes.toDF("doc_id")))
    labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph collapses to its minimum id; singletons stay themselves") {
    // 10→11→…→19 is a diameter-9 chain — the slowest shape for plain
    // min propagation; 30—31 a pair; 40 isolated.
    val chain = (10L until 19L).map(i => (i, i + 1))
    val got = run(chain :+ (30L, 31L), (10L to 19L) ++ Seq(30L, 31L, 40L))
    val want = (10L to 19L).map(_ -> 10L).toMap ++
      Map(30L -> 30L, 31L -> 30L, 40L -> 40L)
    assert(got == want)
  }

  test("empty edge set is a fixpoint after one superstep") {
    val got = run(Seq.empty, Seq(1L, 2L, 3L))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("edge direction does not matter (symmetrized internally)") {
    // all edges written max→min; min must still win
    val got = run(Seq((5L, 2L), (9L, 5L), (7L, 9L)), Seq(2L, 5L, 7L, 9L))
    assert(got == Map(2L -> 2L, 5L -> 2L, 7L -> 2L, 9L -> 2L))
  }

  test("short chain below the jump threshold: iterations = diameter + 1 exactly") {
    // the default (dense-LSH-clique) path must be unchanged by the
    // pointer-jump upgrade: below CcJumpAfter no jump join ever runs
    // and plain propagation's exact d + 1 count still holds
    import spark.implicits._
    val d = PairGraph.CcJumpAfter - 2
    val chain = (0L until d.toLong).map(i => (i, i + 1))
    val (labels, iters) = PairGraph.using(chain.toDF("a", "b"))(
      _.componentsWithIters((0L to d.toLong).map(Tuple1(_)).toDF("doc_id")))
    assert(iters == d + 1)
    assert(labels.filter("component = 0").count() == d + 1)
  }

  /** Adversarial long chain (diameter ≫ any LSH clique's 1-2) — pins
    * the two scale contracts of the superstep loop:
    *  - iterations are O(CcJumpAfter + log d), NOT O(diameter): once
    *    plain propagation crosses CcJumpAfter supersteps, each round
    *    adds a pointer-jump (label := label of label) and the hop
    *    distance to the component minimum at least halves per round —
    *    see PairGraph.componentsWithIters' scaladoc;
    *  - executor storage stays FLAT across supersteps: superseded
    *    label checkpoints (and the edge table) are
    *    unpersisted as soon as their successor materializes, so only
    *    the returned labels generation survives the call.
    */
  test("long chain: pointer-jumping converges in O(log d), storage stays flat") {
    import spark.implicits._
    val sc = spark.sparkContext
    val d = 24
    val chain = (100L until (100L + d)).map(i => (i, i + 1))
    val before = sc.getPersistentRDDs.keySet.toSet
    val (labels, iters) = PairGraph.using(chain.toDF("a", "b"))(
      _.componentsWithIters((100L to (100L + d)).map(Tuple1(_)).toDF("doc_id")))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (100L to (100L + d)).map(_ -> 100L).toMap)
    val log2d = (math.log(d) / math.log(2)).ceil.toInt
    assert(iters < d + 1, s"pointer-jump never engaged: $iters supersteps")
    assert(iters <= PairGraph.CcJumpAfter + log2d + 1,
      s"$iters supersteps exceeds the O(CcJumpAfter + log d) bound")
    // only the returned generation may remain persisted; the map is
    // weak-valued, so compare key sets while `labels` stays referenced
    // (a collected RDD of an earlier suite must not hide a leak)
    val kept = sc.getPersistentRDDs.keySet.toSet -- before
    assert(kept.size <= 1, s"generations left persisted: $kept")
    assert(labels.columns.contains("component"))
  }

  test("iteration count never exceeds min(d + 1, jump bound) (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val prop = Prop.forAll(Gen.choose(2, 12)) { d: Int =>
      val chain = (0L until d.toLong).map(i => (i, i + 1))
      val (labels, iters) = PairGraph.using(chain.toDF("a", "b"))(
        _.componentsWithIters((0L to d.toLong).map(Tuple1(_)).toDF("doc_id")))
      val log2d = (math.log(d) / math.log(2)).ceil.toInt
      // jumping may only accelerate: labels with jumps are pointwise ≤
      // labels without at every round, so convergence is never later
      val bound = math.min(d + 1, PairGraph.CcJumpAfter + log2d + 1)
      iters <= bound && labels.filter("component = 0").count() == d + 1
    }
    // each case runs ~d Spark supersteps — a handful of cases suffices
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }
}

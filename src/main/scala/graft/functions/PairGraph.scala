package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint
import org.apache.spark.sql.types.DecimalType

/** An undirected pair graph and the superstep algorithms over it:
  * connected components, label-propagation communities, the k-core
  * peel, fixed-point PageRank and hop-distance BFS. This is the one
  * place that builds a symmetric edge table and owns the checkpointed
  * generations of an iterative loop. Every loop is driver-bounded and
  * runs distributed supersteps; none walks the graph on the driver.
  *
  * Scale anatomy, shared by every algorithm:
  *  - The edge table is `(src, dst)` holding both orientations of
  *    every pair. It is built in ONE pass over the pair plan (one
  *    explode, not a self-union, so the plan runs once with no pair
  *    checkpoint), hash-partitioned on `src` and localCheckpointed
  *    once. At cluster scale that becomes a reliable checkpoint to
  *    HDFS or an object store. Every superstep joins on `src` and
  *    reuses that partitioning; because the multiset is symmetric, an
  *    algorithm that reads an edge the other way round reads `src` as
  *    the neighbor.
  *  - Each superstep's output is a generation. [[advance]] checkpoints
  *    the successor (the lineage never grows with rounds) and frees
  *    the generation it supersedes, so executor storage holds one
  *    generation per loop plus the edges.
  *  - A convergence metric rides the checkpoint's own job through
  *    `observe` ([[checkpointObserving]]) instead of a second pass
  *    over the fresh table: one superstep is one job.
  *    ObserveCheckpointSpec pins that the metric equals the separate
  *    aggregate.
  *  - Every aggregate is order-independent (min, count, integer sum,
  *    the (count desc, label asc) plurality), so results are
  *    bit-identical under any partitioning and equal the DuckDB
  *    oracles' CTE chains, which read the round counts below.
  *
  * Lifecycle: [[PairGraph.using]] lends a graph to a body and frees the
  * edge table when the body returns. Results end on their own
  * checkpoints and never read the edges lazily, so they stay valid
  * after the loan. If the body throws, every checkpoint the graph took
  * is freed.
  */
final class PairGraph private (pairs: DataFrame) {
  import PairGraph._

  private val live = mutable.Set.empty[DataFrame]

  private val edges: DataFrame = {
    val (a, b) = (col(pairs.columns(0)), col(pairs.columns(1)))
    checkpoint(pairs
      .select(explode(array(
        struct(a.as("src"), b.as("dst")), struct(b.as("src"), a.as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .repartition(col("src")))
  }

  private def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    live += ck
    ck
  }

  private def free(df: DataFrame): Unit =
    if (live.remove(df)) unpersistCheckpoint(df)

  /** Checkpoint `df` with `metric` observed on the same job. */
  private def checkpointObserving[T](df: DataFrame, metric: Column): (DataFrame, T) = {
    val obs = Observation()
    val ck = checkpoint(df.observe(obs, metric.as("m")))
    (ck, obs.get("m").asInstanceOf[T])
  }

  /** The generation swap: evaluate `next`, which takes the successor's
    * checkpoint, then free `prev`, which that checkpoint made dead.
    * Without it a run near [[CcMaxIters]] would pin every generation's
    * blocks in executor storage.
    */
  private def advance[T](prev: DataFrame)(next: => T): T = {
    val n = next
    free(prev)
    n
  }

  /** `n` fixed rounds from generation `init`, each replacing the
    * generation g with the checkpoint of `step(g)`.
    */
  private def iterate(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((g, _) => advance(g)(checkpoint(step(g))))

  private def nodeIds(nodes: DataFrame, as: String): DataFrame =
    nodes.select(col(nodes.columns(0)).as(as))

  /** (doc_id, component) for every node: component(v) is the minimum
    * id over v's connected component, by Pregel-style min-label
    * propagation. Each superstep is one partition-reusing join and one
    * hash aggregation.
    *  - `labels` comes out of each superstep hash-partitioned on
    *    doc_id by the groupBy, which the next join reuses, so the
    *    steady-state cost per superstep is one shuffle of the
    *    propagated (dst, component) pairs.
    *  - Convergence is the monotone label sum (labels only ever
    *    decrease), observed in DECIMAL(38,0) — overflow-safe for any
    *    realistic id domain — instead of a change-counting join.
    *  - Near-dup clusters from banded LSH are dense (candidates form
    *    in-bucket cliques), so this converges in a handful of
    *    supersteps; [[CcJumpAfter]] bounds the long-chain worst case
    *    and [[CcMaxIters]] caps the loop: a non-converging run throws
    *    rather than silently returning partial clusters.
    * `nodes`' first column is the id; nodes without pairs are their
    * own component.
    */
  def components(nodes: DataFrame): DataFrame = componentsWithIters(nodes)._1

  /** [[components]] and its superstep count. Min-label propagation
    * moves a component's minimum one hop per superstep, so a path of
    * diameter d ≤ [[CcJumpAfter]] converges in exactly d + 1
    * supersteps (the +1 detects the fixpoint). Beyond that, each
    * superstep adds a pointer-jump (label := label of label — one
    * self-join of the label table, the shortcutting behind the
    * large-star/small-star CC of Kiveris et al., "Connected Components
    * in MapReduce and Beyond"): the hop distance to the component
    * minimum then halves per round, turning the worst case from
    * O(diameter) to O([[CcJumpAfter]] + log d) without changing the
    * oracle — labels are always same-component node ids, minima are
    * preserved, and the label-sum check applies unchanged.
    * ConnectedComponentsSpec pins both counts.
    */
  def componentsWithIters(nodes: DataFrame): (DataFrame, Int) = {
    val labelSum = coalesce(sum(col("component").cast(DecimalType(38, 0))),
      lit(java.math.BigDecimal.ZERO))
    var (labels, prevSum) = checkpointObserving[java.math.BigDecimal](
      nodeIds(nodes, "doc_id").withColumn("component", col("doc_id")), labelSum)
    var iters = 0
    var converged = false
    while (!converged) {
      iters += 1
      require(iters <= CcMaxIters, s"components did not converge in $CcMaxIters supersteps")
      val propagated = labels
        .union(edges.join(labels, col("src") === col("doc_id"))
          .select(col("dst").as("doc_id"), col("component")))
        .groupBy("doc_id").agg(min("component").as("component"))
      val (next, newSum) =
        if (iters < CcJumpAfter)
          advance(labels)(checkpointObserving[java.math.BigDecimal](propagated, labelSum))
        else {
          // pointer-jump: component := component's component. Left
          // join: callers may pass `nodes` missing a pair endpoint, and
          // such labels keep their value rather than dropping the row.
          // Explicit renames, not .as("x") qualifiers: both sides are
          // the same checkpointed plan, and qualified-attribute
          // resolution fails on the deduplicated self-join. The sum
          // must read the post-jump labels, so it rides the jump's
          // checkpoint.
          val p = advance(labels)(checkpoint(propagated))
          val parent = p.select(col("doc_id").as("p_id"), col("component").as("p_comp"))
          advance(p)(checkpointObserving[java.math.BigDecimal](
            p.join(parent, col("component") === col("p_id"), "left")
              .select(col("doc_id"), coalesce(col("p_comp"), col("component")).as("component")),
            labelSum))
        }
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      labels = next
    }
    (labels, iters)
  }

  /** (doc_id, community) after [[LpRounds]] synchronous label-
    * propagation rounds (Raghavan et al. 2007) — the community policy
    * beside [[components]]' transitive closure. Each round every node
    * adopts the PLURALITY label over its neighbors AND itself (count
    * desc, label asc tie-break — deterministic where classic LPA's
    * random sweep order is not). The inclusive rule matters: without
    * the self-vote a duplicate pair oscillates (the two labels swap
    * every synchronous round), so any even round count would split
    * genuine pairs; with it the pair settles to its min id in round 1
    * and isolated nodes always win their own vote. LPA has no
    * order-independent fixpoint, so the fixed round count IS the
    * operator's contract and what makes it oracle-checkable. Labels
    * move ≤ [[LpRounds]] hops, so 2 rounds agree with CC on in-bucket
    * duplicate cliques but refuse to bridge long chains of borderline
    * pairs — the policy that matters exactly where CC over-merges.
    * Per round: one edges⋈labels shuffle and a per-node plurality
    * (map-side partial counts, then a per-v row_number — no global
    * window).
    */
  def communities(nodes: DataFrame): DataFrame = {
    val plurality = Window.partitionBy(col("v")).orderBy(col("c").desc, col("nlbl").asc)
    val init = checkpoint(nodeIds(nodes, "v").withColumn("lbl", col("v")))
    iterate(init, LpRounds) { labels =>
      // explicit renames (not qualifiers): the join's right side is a
      // projection of the same checkpointed relation family
      edges.join(labels.select(col("v").as("src"), col("lbl").as("nlbl")), Seq("src"))
        .select(col("dst").as("v"), col("nlbl"))
        .unionAll(labels.select(col("v"), col("lbl").as("nlbl")))
        .groupBy(col("v"), col("nlbl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(plurality)).filter(col("rn") === 1)
        .select(col("v"), col("nlbl").as("lbl"))
    }.select(col("v").as("doc_id"), col("lbl").as("community"))
  }

  /** Edges whose both endpoints are in `alive`, counted per `src`:
    * two semi-joins (each a shuffle on one endpoint; the alive set is
    * node-sized, far below the edge table) and one partial aggregate.
    */
  private def survivorDegrees(alive: DataFrame): DataFrame = edges
    .join(alive.select(col("v").as("src")), Seq("src"), "leftsemi")
    .join(alive.select(col("v").as("dst")), Seq("dst"), "leftsemi")
    .groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))

  /** The nodes (column v) that survive `rounds` synchronous peel
    * rounds: each round drops every node with fewer than [[KCoreK]]
    * surviving neighbors, so removals cascade down chains while
    * cliques are self-supporting.
    */
  def peel(rounds: Int): DataFrame = {
    val init = checkpoint(edges.select(col("src").as("v")).distinct())
    iterate(init, rounds)(alive =>
      survivorDegrees(alive).filter(col("deg") >= KCoreK).select(col("v")))
  }

  /** (doc_id, in_core, core_deg) for every node after a `rounds`-round
    * peel — Seidman 1983's core decomposition, bounded. In-core docs
    * sit in densely duplicated clusters (safe to collapse
    * aggressively); peeled docs matched only through fringe pairs
    * (review before dropping). core_deg is the within-core degree, 0
    * when peeled, so both verdicts are non-vacuous at every SF.
    *
    * SEMANTICS OF THE BOUND: `in_core = 1` means "survived `rounds` peel
    * rounds with ≥ [[KCoreK]] surviving neighbors", which equals true
    * k-core membership exactly when the peel converged within the
    * bound. KCoreSpec asserts the fixture converges within
    * [[KCoreRounds]]; at SFs the spec does not cover, a deeper cascade
    * would leave in_core = 1 rows with core_deg < K. Cross-engine
    * hashes stay exact regardless (the oracle mirrors the round count),
    * so the contract IS the round count.
    */
  def kCore(nodes: DataFrame, rounds: Int): DataFrame = {
    val alive = peel(rounds)
    val coreDeg = advance(alive)(checkpoint(survivorDegrees(alive)
      .select(col("v").as("doc_id"), col("deg").as("core_deg"))))
    nodeIds(nodes, "doc_id")
      .join(coreDeg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("core_deg").isNotNull.cast("int").as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
  }

  /** (doc_id, deg, rank) for every node with an edge: fixed-point
    * PageRank (see [[PrScale]]), push model. Each round a node keeps
    * none of its mass, sends floor(rank·85/(100·deg)) to each
    * neighbor, and every node receives the same floor((15·S)/(100·N))
    * teleport base. The graph is symmetric, so deg ≥ 1 everywhere and
    * there is no dangling mass. Per round: one join (edges × shares,
    * reusing the edges' src partitioning) and one aggregation (sum of
    * shares by dst); the per-node share is computed ONCE (ranks ⋈ deg,
    * both hash-partitioned on the node id) and fanned out by the join.
    */
  def pageRank(): DataFrame = {
    val deg = checkpoint(edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg")))
    val ng = broadcast(deg.agg(count(lit(1)).as("ng")))
    val init = checkpoint(deg.crossJoin(ng)
      .select(col("v"), expr(s"$PrScale div ng").as("rank")))
    iterate(init, PrIters) { ranks =>
      val shares = ranks.join(deg, "v")
        .select(col("v").as("sv"), expr("(rank * 85) div (100 * deg)").as("share"))
      edges.join(shares, col("src") === col("sv"))
        .groupBy(col("dst").as("v")).agg(sum(col("share")).as("in_mass"))
        .crossJoin(ng)
        .select(col("v"), expr(s"(15 * $PrScale) div (100 * ng) + in_mass").as("rank"))
    }.join(deg, "v").select(col("v").as("doc_id"), col("deg"), col("rank"))
  }

  /** (doc_id, component, hops) for every row of `components` (a
    * [[components]] result): the hop distance from each node to its
    * component's minimum, by multi-source BFS from those minima.
    * FRONTIER supersteps: only nodes whose distance improved last
    * round propagate, so each join touches the frontier's incident
    * edges, not all |E|, and the per-round work decays with the
    * frontier. A generation is (doc_id, hops, cand): the settled
    * distance and the round's best candidate; the frontier is the rows
    * whose candidate improves, and its size, observed on the
    * checkpoint's job, ends the loop at zero. Requires convergence
    * within [[CcMaxIters]] rounds.
    */
  def hops(components: DataFrame): DataFrame = {
    val improving = col("cand") < col("hops")
    val frontierSize = count(when(improving, 1))
    def dist(gen: DataFrame): DataFrame = gen.select(col("doc_id"),
      least(col("hops"), coalesce(col("cand"), lit(Unreached))).as("hops"))
    // round 0: the minima are the only candidates, at distance 0
    var (gen, nf) = checkpointObserving[Long](components.select(col("doc_id"),
      lit(Unreached).as("hops"),
      when(col("doc_id") === col("component"), lit(0L)).as("cand")), frontierSize)
    var iters = 0
    while (nf > 0) {
      iters += 1
      require(iters <= CcMaxIters, s"BFS did not converge in $CcMaxIters supersteps")
      val frontier = gen.filter(improving).select(col("doc_id"), col("cand").as("hops"))
      val prop = edges.join(frontier, col("src") === col("doc_id"))
        .select(col("dst"), (col("hops") + 1).as("cand"))
        .groupBy(col("dst").as("doc_id")).agg(min(col("cand")).as("cand"))
      val (next, n) = advance(gen)(checkpointObserving[Long](
        dist(gen).join(prop, Seq("doc_id"), "left")
          .select(col("doc_id"), col("hops"), col("cand")), frontierSize))
      gen = next
      nf = n
    }
    components.join(dist(gen), "doc_id")
      .select(col("doc_id"), col("component"), col("hops").cast("int").as("hops"))
  }
}

object PairGraph {

  /** Superstep cap of [[PairGraph.components]] and [[PairGraph.hops]]. */
  val CcMaxIters = 64

  /** Supersteps of plain propagation before pointer-jumping joins in.
    * LSH near-dup graphs are in-bucket cliques (diameter 1-2) that
    * converge well under this bound, so the default path never pays
    * the jump's extra join; only an adversarial long-chain graph
    * crosses it.
    */
  val CcJumpAfter = 6

  /** Synchronous label-propagation rounds (see [[PairGraph.communities]]). */
  val LpRounds = 2

  /** k-core peel threshold and FIXED round count (see
    * [[PairGraph.kCore]]). K = 2: the 2-core keeps triangle-bearing
    * duplicate cliques and sheds pair/chain fringe — the cohesion cut
    * between a true duplicate cluster and a string of borderline
    * matches. Cascading peel has a data-dependent round-to-fixpoint, so
    * the ROUND COUNT is the cross-engine contract (KCoreSpec asserts
    * the fixture reaches the fixpoint within it — a 5th round changes
    * nothing).
    */
  val KCoreK = 2
  val KCoreRounds = 4

  /** PageRank rounds (a fixed count makes the run oracle-expressible
    * as one unrolled CTE per round) and the fixed-point rank scale:
    * ranks are BIGINTs in units of 1e-12 of total mass. All arithmetic
    * is integer (multiply, floor-divide, sum), so results are
    * bit-identical regardless of partitioning, shuffle order or engine
    * — the same associativity trick as the k-means fixed-point lift.
    * Floor division leaks ≤ 1 unit of mass per (node, round) — at this
    * scale a ~1e-10 relative loss, irrelevant to ranking and identical
    * on both engines.
    */
  val PrIters = 3
  val PrScale = 1000000000000L

  /** The BFS distance of a node no frontier has reached yet. */
  private val Unreached = 1000000L

  /** Build the graph of `pairs` (its first two columns are the
    * endpoints; direction does not matter), run `body` on it, and free
    * the edge table when `body` returns. If `body` throws, every
    * checkpoint the graph took is freed before the exception
    * propagates.
    */
  def using[T](pairs: DataFrame)(body: PairGraph => T): T = {
    val g = new PairGraph(pairs)
    try body(g)
    catch {
      case e: Throwable =>
        g.live.toList.foreach(g.free)
        throw e
    }
    finally g.free(g.edges)
  }
}

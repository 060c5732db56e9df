package graft

import java.nio.file.{Files, Paths}

import graft.functions.PairGraph
import graft.functions.PairGraph._
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAllNoShrink => forAll}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The pair-graph kernel against plain-Scala references on generated
  * graphs: distinct a < b pairs over up to 40 nodes, a chain of up to
  * 20 nodes, a clique, isolated nodes, and sometimes no edges at all,
  * with the ids shuffled so no shape sits at its minimum id. All five
  * algorithms run on one graph, as `dedup_community_compare` and
  * `dedup_hop_distance` do, and are collected after the loan ended.
  * The other cases pin the lifecycle: a build reads the pairs once, a
  * throwing body frees every checkpoint, and a source scan keeps the
  * generation bookkeeping in the kernel file.
  */
class PairGraphSpec extends AnyFunSuite {
  import PairGraphSpec.Graph
  lazy val spark = SparkTestSession.spark

  private val graphs: Gen[Graph] = for {
    n <- Gen.choose(0, 40)
    density <- Gen.oneOf(0.0, 0.03, 0.08, 0.2)
    coins <- Gen.listOfN(n * (n - 1) / 2, Gen.choose(0.0, 1.0))
    chain <- Gen.choose(0, 20)
    clique <- Gen.choose(0, 6)
    isolated <- Gen.choose(0, 3)
    noEdges <- Gen.frequency(1 -> true, 5 -> false)
    seed <- Gen.long
  } yield {
    val random = (for (a <- 0 until n; b <- a + 1 until n) yield (a.toLong, b.toLong))
      .zip(coins).collect { case (p, c) if c < density => p }
    val chainPairs = (0 until chain - 1).map(i => (100L + i, 101L + i))
    val cliquePairs = for (a <- 0 until clique; b <- a + 1 until clique)
      yield (200L + a, 200L + b)
    val ids = (0L until n) ++ (100L until 100L + chain) ++
      (200L until 200L + clique) ++ (300L until 300L + isolated)
    val relabel = ids.zip(new scala.util.Random(seed).shuffle(ids.map(_ * 7 + 3))).toMap
    val pairs = if (noEdges) Vector.empty else (random ++ chainPairs ++ cliquePairs)
      .map { case (a, b) => (relabel(a) min relabel(b), relabel(a) max relabel(b)) }.toVector
    Graph(ids.map(relabel).toVector, pairs)
  }

  private def componentsOf(g: Graph): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(g.nodes.map(v => v -> v): _*)
    def find(v: Long): Long = if (parent(v) == v) v else find(parent(v))
    for ((a, b) <- g.pairs) {
      val (ra, rb) = (find(a), find(b))
      parent(ra max rb) = ra min rb
    }
    g.nodes.map(v => v -> find(v)).toMap
  }

  private def communitiesOf(g: Graph): Map[Long, Long] =
    (1 to LpRounds).foldLeft(g.nodes.map(v => v -> v).toMap) { (lbl, _) =>
      g.nodes.map { v =>
        val votes = (lbl(v) +: g.adj(v).map(lbl)).groupBy(identity).map { case (l, c) => (l, c.size) }
        v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }

  private def kCoreOf(g: Graph): Map[Long, (Int, Long)] = {
    val alive = (1 to KCoreRounds).foldLeft(g.nodes.filter(g.adj(_).nonEmpty).toSet) { (a, _) =>
      a.filter(v => g.adj(v).count(a) >= KCoreK)
    }
    g.nodes.map { v =>
      val d = if (alive(v)) g.adj(v).count(alive).toLong else 0L
      v -> ((if (d > 0) 1 else 0), d)
    }.toMap
  }

  private def pageRankOf(g: Graph): Map[Long, (Long, Long)] = {
    val deg = g.nodes.filter(g.adj(_).nonEmpty).map(v => v -> g.adj(v).size.toLong).toMap
    val ng = deg.size.toLong
    val ranks = (1 to PrIters).foldLeft(deg.map { case (v, _) => v -> PrScale / ng }) { (r, _) =>
      val share = r.map { case (v, rank) => v -> rank * 85 / (100 * deg(v)) }
      deg.map { case (v, _) => v -> ((15 * PrScale) / (100 * ng) + g.adj(v).map(share).sum) }
    }
    deg.map { case (v, d) => v -> ((d, ranks(v))) }
  }

  private def hopsOf(g: Graph, comp: Map[Long, Long]): Map[Long, (Long, Int)] = {
    var dist = g.nodes.filter(v => comp(v) == v).map(_ -> 0).toMap
    var frontier = dist.keySet
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(g.adj).filterNot(dist.contains)
      dist ++= next.map(_ -> (dist(frontier.head) + 1))
      frontier = next
    }
    g.nodes.map(v => v -> ((comp(v), dist(v)))).toMap
  }

  test("every algorithm equals its plain-Scala reference on generated graphs") {
    import spark.implicits._
    val prop = forAll(graphs) { g =>
      val nodes = g.nodes.toDF("doc_id")
      val (cc, lpa, core, pr, hop) = PairGraph.using(g.pairs.toDF("doc_a", "doc_b")) { pg =>
        val comp = pg.components(nodes)
        (comp, pg.communities(nodes), pg.kCore(nodes, KCoreRounds), pg.pageRank(), pg.hops(comp))
      }
      val comp = componentsOf(g)
      val checks = Seq(
        "components" -> (cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == comp),
        "communities" -> (lpa.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          communitiesOf(g)),
        "kCore" -> (core.collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap ==
          kCoreOf(g)),
        "pageRank" -> (pr.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap ==
          pageRankOf(g)),
        "hops" -> (hop.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap ==
          hopsOf(g, comp)))
      checks.map { case (name, ok) => Prop(ok) :| s"$name on $g" }.reduce(_ && _)
    }
    // each case runs ~60 tiny Spark supersteps — a handful suffices
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("building a graph reads the pair plan once, in one checkpoint") {
    import spark.implicits._
    val reads = spark.sparkContext.longAccumulator
    val pairs = spark.range(50).map { i => reads.add(1); (i, i + 1) }.toDF("doc_a", "doc_b")
    val jobs = JobCount.during(spark)(PairGraph.using(pairs)(_ => ()))
    assert(reads.value == 50, "the pair plan must run once, with no pair checkpoint")
    // the edge checkpoint's two stages: AQE submits the repartition's
    // map stage as a job of its own, then the checkpoint's result stage
    assert(jobs == 2)
  }

  test("a body that throws frees every checkpoint the graph took") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val nodes = (0L to 12L).toDF("doc_id")
    val before = sc.getPersistentRDDs.keySet.toSet
    // the results stay referenced, so only an explicit free can drop
    // their checkpoints from the (weak-valued) persistent-RDD map
    var results = Seq.empty[DataFrame]
    val e = intercept[IllegalStateException] {
      PairGraph.using(pairs) { g =>
        results = Seq(g.hops(g.components(nodes)), g.communities(nodes))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed" && results.size == 2)
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"checkpoints left pinned: $leaked")
  }

  test("generation bookkeeping lives only in the kernel") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val kernel = root.resolve("functions/PairGraph.scala")
    def hits(f: java.nio.file.Path) = for {
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("unpersistCheckpoint") || line.contains("Observation()")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits(kernel).exists(_.contains("unpersistCheckpoint(")) &&
      hits(kernel).exists(_.contains("Observation()")), "the kernel must hold the bookkeeping")
    val files = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f != kernel).toVector
    assert(files.exists(_.getFileName.toString == "DedupQueries.scala"))
    val found = files.flatMap(hits)
    assert(found.isEmpty, found.mkString("\n"))
  }
}

object PairGraphSpec {
  private final case class Graph(nodes: Vector[Long], pairs: Vector[(Long, Long)]) {
    val adj: Map[Long, Vector[Long]] = {
      val both = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      nodes.map(v => v -> both.collect { case (`v`, w) => w }).toMap
    }
  }
}

package graft

import java.nio.file.{Files, Paths}

import graft.functions.NearDup
import graft.queries.DedupQueries
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAllNoShrink => forAll}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The near-dup verify kernel against plain-Scala Jaccard and
  * containment on generated sorted-set corpora: `verified` at both
  * entry thresholds, the containment pair at 0.7, and the incremental
  * probe (new docs on one side, index docs on the other). Every corpus
  * holds empty sets, identical sets and pinned pairs exactly at each
  * threshold (J = 3/5, J = 1/2, C = 7/10) and just below it, under
  * shuffled ids; sets are int or long arrays. Every Spark side runs
  * twice: generated code only (CODEGEN_ONLY, whole-stage on) and
  * interpreted only (NO_CODEGEN, whole-stage off). Rows come from an
  * RDD, so the optimizer cannot fold the verify on the driver. The
  * last case is a source scan that keeps the verify in the kernel.
  */
class NearDupSpec extends AnyFunSuite {
  import NearDupSpec._
  lazy val spark = SparkTestSession.spark

  private lazy val modes: Seq[(String, SparkSession)] = Seq(
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
  ).map { case (name, confs) =>
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    name -> s
  }

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  /** Random sets over a small universe (so pairs overlap often), about
    * one in six empty and one in five a copy of an earlier set, then
    * the pinned sets. Ids are shuffled; each candidate pair is kept
    * with probability 0.8, the pinned pairs always.
    */
  private val corpora: Gen[Corpus] = for {
    n <- Gen.choose(0, 14)
    universe <- Gen.choose(1, 12)
    random <- Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(Set.empty[Long]),
      5 -> Gen.someOf(0L until universe).map(_.toSet)))
    copy <- Gen.listOfN(n, Gen.choose(0, 4))
    longs <- Gen.oneOf(false, true)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val sets = random.indices.map(i =>
      if (copy(i) == 0 && i > 0) random(rnd.nextInt(i)) else random(i)).toVector ++ Pinned
    val ids = rnd.shuffle(sets.indices.map(_ * 7919L + 13L).toVector)
    val docs = ids.zip(sets).toMap
    val pinnedIds = ids.drop(n).grouped(2).map(p => (p(0), p(1))).toVector
    val cand = (for (x <- ids; y <- ids if x < y) yield (x, y))
      .filter(p => pinnedIds.exists(q => q == p || q.swap == p) || rnd.nextDouble() < 0.8)
    Corpus(docs, rnd.shuffle(cand), pinnedIds.map(p => (p._1 min p._2, p._1 max p._2)), longs)
  }

  private def setsDf(s: SparkSession, docs: Map[Long, Set[Long]], longs: Boolean): DataFrame = {
    import s.implicits._
    val rows = docs.toSeq.map { case (id, set) => (id, set.toArray.sorted) }
    val df =
      if (longs) s.sparkContext.parallelize(rows, 2).toDF("doc_id", "f")
      else s.sparkContext.parallelize(rows.map { case (id, a) => (id, a.map(_.toInt)) }, 2)
        .toDF("doc_id", "f")
    NearDup.sets(df, col("f"))
  }

  private def pairsDf(s: SparkSession, pairs: Seq[(Long, Long)], a: String, b: String): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(pairs, 2).toDF(a, b)
  }

  private def opt(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))

  test("verified equals brute-force Jaccard at 0.6 and 0.5") {
    for ((mode, s) <- modes; t <- Seq(0.6, 0.5)) {
      check(forAll(corpora) { c =>
        val got = NearDup.verified(pairsDf(s, c.cand, "doc_a", "doc_b"), setsDf(s, c.docs, c.longs), t)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toVector
        val want = c.cand.flatMap { case (a, b) =>
          jaccard(c.docs(a), c.docs(b)).filter(_ >= t).map(j => (a, b, round6(j)))
        }
        // pinned(0) sits at 3/5, pinned(1) at 1/2: each is kept at its own threshold
        val atT = c.pinned(if (t == 0.6) 0 else 1)
        Prop(got.sorted == want.sorted) :| s"$mode t=$t on $c" &&
          Prop(got.exists(g => (g._1, g._2) == atT && g._3 == t)) :| s"$mode t=$t pinned"
      }, 6)
    }
  }

  test("the containment pair equals brute-force containment at 0.7") {
    for ((mode, s) <- modes) {
      check(forAll(corpora) { c =>
        val (cAb, cBa) = NearDup.containment
        val got = NearDup.pairs(pairsDf(s, c.cand, "doc_a", "doc_b"), setsDf(s, c.docs, c.longs))
          .filter(greatest(cAb, cBa) >= 0.7)
          .select(col("doc_a"), col("doc_b"), round(cAb, 6), round(cBa, 6))
          .collect().map(r => (r.getLong(0), r.getLong(1), opt(r, 2), opt(r, 3))).toVector
        val want = c.cand.flatMap { case (a, b) =>
          val (sa, sb) = (c.docs(a), c.docs(b))
          val (ab, ba) = (containment(sa, sb), containment(sb, sa))
          if ((ab ++ ba).exists(_ >= 0.7)) Some((a, b, ab.map(round6), ba.map(round6))) else None
        }
        val atT = c.pinned(2) // C = 7/10 one way
        Prop(got.sortBy(g => (g._1, g._2)) == want.sortBy(w => (w._1, w._2))) :| s"$mode on $c" &&
          Prop(got.exists(g => (g._1, g._2) == atT)) :| s"$mode pinned"
      }, 6)
    }
  }

  test("the incremental probe equals a brute-force probe of new docs against the index") {
    for ((mode, s) <- modes) {
      check(forAll(corpora, Gen.long) { (c, seed) =>
        val rnd = new scala.util.Random(seed)
        val (newIds, idxIds) = c.docs.keys.toVector.sorted.partition(_ => rnd.nextBoolean())
        val probes = (for (x <- newIds; y <- idxIds) yield (x, y)).filter(_ => rnd.nextDouble() < 0.8)
        val got = DedupQueries.incrementalDups(pairsDf(s, probes, "new_id", "idx_id"),
            setsDf(s, c.docs.filter(d => newIds.contains(d._1)), c.longs),
            setsDf(s, c.docs.filter(d => idxIds.contains(d._1)), c.longs))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toVector
        val want = probes
          .filter { case (x, y) => jaccard(c.docs(x), c.docs(y)).exists(_ >= 0.6) }
          .groupBy(_._1).toVector
          .map { case (x, ps) => (x, ps.map(_._2).min, ps.size.toLong) }
        Prop(got.sorted == want.sorted) :| s"$mode on $c with new=$newIds"
      }, 6)
    }
  }

  test("the verify is written once, in the kernel") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val kernel = root.resolve("functions/NearDup.scala")
    val patterns = Seq(
      """SortedIntersectSize\(""".r.unanchored,
      // |A ∪ B| spelled as sz + sz − inter
      """sz\b.*\+.*sz\b.*-.*\binter\b""".r.unanchored,
      // a candidate joining a per-doc side aliased "a" / "da"
      """\.join\((shjHint\()?\w+\.as\("d?a"\)""".r.unanchored,
      // a band self-join
      """col\("\w+\.band"\)\s*===""".r.unanchored)
    def hits(f: java.nio.file.Path) = for {
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex.toVector
      if patterns.exists(_.findFirstIn(line).isDefined)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits(kernel).size == 2, "the kernel must hold the one intersect and the one union")
    val exempt = (f: java.nio.file.Path) =>
      f == kernel || f.startsWith(root.resolve("functions/expressions")) ||
        f == root.resolve("GraftExtensions.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !exempt(f)).toVector
    assert(files.exists(_.getFileName.toString == "DedupQueries.scala"))
    assert(files.exists(_.getFileName.toString == "StreamingQueries.scala"))
    val found = files.flatMap(hits)
    assert(found.isEmpty, found.mkString("\n"))
  }
}

object NearDupSpec {
  /** Doc sets by id, candidate pairs (a < b), the pinned pairs in
    * [[Pinned]] order, and whether the sets are long arrays. */
  private final case class Corpus(docs: Map[Long, Set[Long]], cand: Vector[(Long, Long)],
                                   pinned: Vector[(Long, Long)], longs: Boolean)

  private def span(from: Long, until: Long): Set[Long] = (from until until).toSet

  /** Pairs in order: J = 3/5, J = 1/2, C(A, B) = 7/10, J = 4/7,
    * C = 6/9 both ways below 0.7, two identical sets, two empty sets.
    */
  private val Pinned: Vector[Set[Long]] = Vector(
    span(100, 104), span(100, 103) + 104L,
    span(110, 113), span(110, 112) + 113L,
    span(130, 140), span(130, 137) ++ span(140, 150),
    span(120, 125), span(120, 124) ++ Set(125L, 126L),
    span(150, 159), span(150, 156) ++ span(160, 163),
    span(170, 175), span(170, 175),
    Set.empty, Set.empty)

  private def jaccard(a: Set[Long], b: Set[Long]): Option[Double] = {
    val inter = (a & b).size
    val union = a.size + b.size - inter
    if (union == 0) None else Some(inter.toDouble / union)
  }

  private def containment(a: Set[Long], b: Set[Long]): Option[Double] =
    if (a.isEmpty) None else Some((a & b).size.toDouble / a.size)

  /** Spark's `round(x, 6)` on a double: HALF_UP on its shortest decimal. */
  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

package graft

import java.nio.file.{Files, Paths}

import graft.queries.{DedupQueries, TextQueries}
import graft.queries.TextQueries.{WinnowMaxDf, WinnowMinShared}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAllNoShrink => forAll}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The in-bucket pair expansion (`DedupQueries.coBucketPairs`) behind
  * `text_winnow`'s pairs and the LSH candidates, against plain-Scala
  * brute force on generated bucket sets, and `text_winnow`'s pair stage
  * against its former self-join spelling. The last cases pin the job
  * counts of `text_winnow` and keep the expansion written once.
  */
class CoBucketPairsSpec extends AnyFunSuite {
  import CoBucketPairsSpec._
  lazy val spark = SparkTestSession.spark

  /** `text_winnow`'s pair stage as a self-join: fingerprint doc
    * frequencies, a join back, then `hits ⋈ hits` on fp. */
  private def selfJoinPairs(fp: DataFrame): DataFrame = {
    val shared = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= WinnowMaxDf)
      .select(col("fp"))
    val hits = fp.join(shared, "fp")
    hits.select(col("fp"), col("doc_id").as("doc_a"))
      .join(hits.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
  }

  /** Plain-Scala pairs of every bucket of 2 to `maxDocs` docs, counted. */
  private def bruteForce(rows: Seq[(Long, Long)], maxDocs: Int): Map[(Long, Long), Long] =
    rows.groupBy(_._2).values.map(_.map(_._1))
      .filter(b => b.size >= 2 && b.size <= maxDocs)
      .flatMap(b => for (x <- b; y <- b if x < y) yield (x, y))
      .groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }

  private def counted(df: DataFrame): Map[(Long, Long), Long] = {
    val rows = df.select("doc_a", "doc_b", "n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    assert(rows.map(_._1).distinct.length == rows.length, "a pair was emitted twice")
    rows.toMap
  }

  /** (doc_id, fp) rows, distinct per doc: every case has buckets of 1,
    * 2, WinnowMaxDf and WinnowMaxDf + 1 docs plus random ones, and two
    * pinned doc pairs of their own sharing WinnowMinShared - 1 and
    * WinnowMinShared fingerprints. Ids and rows are shuffled.
    */
  private val fpSets: Gen[FpSet] = for {
    nDocs <- Gen.choose(WinnowMaxDf + 1, WinnowMaxDf + 15)
    extra <- Gen.listOfN(12, Gen.frequency(
      6 -> Gen.choose(1, 4), 2 -> Gen.choose(5, 12), 1 -> Gen.oneOf(WinnowMaxDf, WinnowMaxDf + 1)))
    nExtra <- Gen.choose(0, 12)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until nDocs + 4L).map(_ * 7919L + 13L).toVector)
    val (docs, pinned) = ids.splitAt(nDocs)
    val sizes = Seq(1, 2, WinnowMaxDf, WinnowMaxDf + 1) ++ extra.take(nExtra)
    val random = sizes.zipWithIndex.flatMap { case (n, b) =>
      rnd.shuffle(docs).take(n).map(_ -> (b * 104729L + 1L))
    }
    // pinned(0..1) share WinnowMinShared - 1 fps, pinned(2..3) WinnowMinShared
    val fresh = Iterator.from(sizes.size).map(_ * 104729L + 1L)
    val below = Vector.fill(WinnowMinShared - 1)(fresh.next())
      .flatMap(f => Seq(pinned(0) -> f, pinned(1) -> f))
    val at = Vector.fill(WinnowMinShared)(fresh.next())
      .flatMap(f => Seq(pinned(2) -> f, pinned(3) -> f))
    FpSet(rnd.shuffle(random ++ below ++ at).toVector,
      (pinned(0) min pinned(1), pinned(0) max pinned(1)),
      (pinned(2) min pinned(3), pinned(2) max pinned(3)))
  }

  test("winnow pairs equal the self-join spelling and a brute-force count") {
    import spark.implicits._
    val prop = forAll(fpSets) { g =>
      val fp = g.rows.toDF("doc_id", "fp")
      val got = counted(TextQueries.winnowPairs(fp))
      val want = bruteForce(g.rows, WinnowMaxDf).filter(_._2 >= WinnowMinShared)
      Prop(got == want) :| s"brute force on $g" &&
        Prop(got == counted(selfJoinPairs(fp))) :| s"self-join on $g" &&
        Prop(!got.contains(g.below) && got.get(g.at).contains(WinnowMinShared.toLong)) :|
          s"pinned pairs on $g"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("LSH candidates equal the distinct brute-force co-band pairs") {
    import spark.implicits._
    val bandSets = for {
      n <- Gen.choose(0, 40)
      bands <- Gen.choose(1, 4)
      width <- Gen.oneOf(2, 5, 20)
      hashes <- Gen.listOfN(n * bands, Gen.choose(0, width - 1))
      seed <- Gen.long
    } yield {
      val ids = new scala.util.Random(seed).shuffle((0L until n).map(_ * 31L + 5L).toVector)
      val rows = for ((h, k) <- hashes.zipWithIndex) yield (ids(k / bands), k % bands, h.toLong)
      new scala.util.Random(seed + 1).shuffle(rows).toVector
    }
    val prop = forAll(bandSets) { rows =>
      val got = DedupQueries.lshCandidatesFromBands(rows.toDF("doc_id", "band", "bhash"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toVector
      val want = bruteForce(rows.map { case (d, b, h) => d -> (h * 8 + b) }, Int.MaxValue).keySet
      Prop(got.distinct.size == got.size && got.toSet == want) :| s"on $rows"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("text_winnow builds without a job and materializes in at most the self-join's jobs") {
    val dir = "layerbench/data/sf0.001"
    assert(Files.isDirectory(Paths.get(dir)), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    Tables.documents(spark, dir) // a file's first read infers its schema in a job, once per JVM
    var df: DataFrame = null
    val build = JobCount.during(spark) { df = SparkEntry.queries("text_winnow")(spark, dir) }
    val run = JobCount.during(spark)(Bench.materialize(df))
    assert(build == 0, "the query function must not run eager work")
    // the self-join spelling took 1 job building (its fingerprint
    // checkpoint), then SelfJoinJobs materializing
    assert(run <= SelfJoinJobs, s"$run jobs")
  }

  test("the in-bucket pair expansion is written once, in coBucketPairs") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val expansion = """transform\s*\(\s*slice\s*\(|slice\s*\(\s*(col\s*\(\s*")?ids\b""".r
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    assert(files.exists(_.getFileName.toString == "TextQueries.scala"))
    val hits = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toVector
      (line, i) <- lines.zipWithIndex if expansion.findFirstIn(line).nonEmpty
    } yield (f, i, lines.take(i).reverse.find(_.contains(" def ")).getOrElse(""))
    assert(hits.size == 1 && hits.forall { case (f, _, enclosing) =>
      f.getFileName.toString == "DedupQueries.scala" && enclosing.contains("def coBucketPairs(")
    }, hits.map { case (f, i, _) => s"$f:${i + 1}" }.mkString("\n"))
  }
}

object CoBucketPairsSpec {
  /** Jobs the self-join spelling of `text_winnow` took to materialize
    * the same tables, counted the same way (this spelling takes 4). */
  private val SelfJoinJobs = 5

  private final case class FpSet(rows: Vector[(Long, Long)], below: (Long, Long), at: (Long, Long))
}

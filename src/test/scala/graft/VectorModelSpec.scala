package graft

import java.nio.file.{Files, Paths}

import graft.functions.{VectorFunctions, VectorModel}
import graft.functions.VectorModel.Centroid
import graft.functions.expressions.DotProductFloat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAllNoShrink => forAll}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The vector-model kernel against the expression spellings the
  * fixed-k entries and the oracle share: `nearest` ≡ argmin over
  * `scores` mapped through the cell list, `nearest2` ≡ the masked-
  * argmin pair, `nearestByDot` over the lattice ≡ the `centroidDots`
  * argmax, `signBits` ≡ `lshBucket`, and `dot` ≡ `DotProductFloat` bit
  * for bit. Models are cell-sorted with k up to 160 and duplicated
  * centroids (exact ties); lanes include −0.0 and subnormals. Every
  * Spark side runs twice: generated code only (CODEGEN_ONLY, whole-
  * stage on) and interpreted only (NO_CODEGEN, whole-stage off). Rows
  * come from an RDD, so the optimizer cannot fold the projection on
  * the driver. The last two cases are source scans: one keeps the
  * lattice hash and the centroid type in the kernel file, the other
  * keeps each top-K spelling of SimilarityQueries in its one helper.
  */
class VectorModelSpec extends AnyFunSuite {
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

  private val lane: Gen[Float] = Gen.frequency(
    6 -> Gen.choose(-1f, 1f),
    3 -> Gen.choose(-4, 4).map(_ * 0.25f), // coarse values: exact score ties
    1 -> Gen.oneOf(0f, -0f, Float.MinPositiveValue, -Float.MinPositiveValue,
      1e-40f, -3e-39f, java.lang.Float.MIN_NORMAL))

  private def vec(dim: Int): Gen[Array[Float]] = Gen.listOfN(dim, lane).map(_.toArray)

  /** k centroids on distinct ascending cells; about one in four copies
    * an earlier centroid's coordinates, so scores tie exactly.
    */
  private def model(k: Int, dim: Int): Gen[Array[Centroid]] = for {
    base <- Gen.listOfN(k, vec(dim))
    dup <- Gen.listOfN(k, Gen.choose(0, 3))
    pick <- Gen.listOfN(k, Gen.choose(0, k))
    gaps <- Gen.listOfN(k, Gen.choose(1, 3))
  } yield {
    val cf = base.toArray
    for (j <- 1 until k if dup(j) == 0) cf(j) = cf(pick(j) % j)
    val cells = gaps.scanLeft(0)(_ + _).tail
    Array.tabulate(k)(j => Centroid(0, cells(j), cf(j)))
  }

  private def rows(s: SparkSession, xs: Seq[Array[Float]]): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }, 2)
      .toDF("id", "x")
  }

  private val Ks = Seq(1, 2, 8, 37, 160)

  test("nearest equals the expression argmin mapped through the cell list") {
    for ((mode, s) <- modes; k <- Ks) {
      val g = for { dim <- Gen.oneOf(8, 64); m <- model(k, dim); xs <- Gen.listOfN(24, vec(dim)) }
        yield (m, xs)
      check(forAll(g) { case (m, xs) =>
        val got = rows(s, xs).select(col("id"), VectorModel.assign(m.toSeq, col("x")))
          .collect().map(r => r.getLong(0).toInt -> r.getInt(1)).toMap
        val want = xs.indices.map(i => i -> m(VectorModel.nearest(xs(i), 0, m)).cell).toMap
        Prop(got == want) :| s"$mode k=$k"
      }, 4)
    }
  }

  test("nearest2 equals the masked-argmin pair") {
    for ((mode, s) <- modes; k <- Ks) {
      val g = for { m <- model(k, 64); xs <- Gen.listOfN(24, vec(64)) } yield (m, xs)
      check(forAll(g) { case (m, xs) =>
        val got = VectorModel.probe2(rows(s, xs), m.toSeq, col("x"))
          .select(col("id"), col("probes")).collect()
          .map(r => r.getLong(0).toInt -> r.getSeq[Int](1)).toMap
        val want = xs.indices.map { i =>
          val (a, b) = VectorModel.nearest2(xs(i), 0, m)
          i -> Seq(m(a).cell, m(b).cell)
        }.toMap
        Prop(got == want) :| s"$mode k=$k"
      }, 4)
    }
  }

  test("nearestByDot over the lattice model equals the centroidDots argmax") {
    for ((mode, s) <- modes; k <- Seq(8, 37)) {
      val m = VectorModel.latticeModel(k, 64).toArray
      check(forAll(Gen.listOfN(48, vec(64))) { xs =>
        val dots = VectorFunctions.centroidDots(col("x"), 64, k)
        val got = rows(s, xs).select(col("id"), array_position(dots, array_max(dots)))
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
        val want = xs.indices.map(i => i -> m(VectorModel.nearestByDot(xs(i), m)).cell).toMap
        Prop(got == want) :| s"$mode k=$k"
      }, 3)
    }
  }

  test("signBits over 8 lattice planes equals lshBucket") {
    for ((mode, s) <- modes; dim <- Seq(8, 64)) {
      val planes = Array.tabulate(8)(h => VectorModel.latticeRow(h, dim))
      check(forAll(Gen.listOfN(64, vec(dim))) { xs =>
        val got = rows(s, xs).select(col("id"), VectorFunctions.lshBucket(col("x"), dim, 8))
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        val want = xs.indices.map(i => i -> VectorModel.signBits(xs(i), planes)).toMap
        Prop(got == want) :| s"$mode dim=$dim"
      }, 3)
    }
  }

  test("dot equals DotProductFloat bit for bit, including -0.0 and subnormals") {
    for ((mode, s) <- modes) {
      import s.implicits._
      val pairs = for { dim <- Gen.choose(1, 64); a <- vec(dim); b <- vec(dim) } yield (a, b)
      check(forAll(Gen.listOfN(64, pairs)) { ps =>
        val edge = Seq(
          (Array(-0f, -0f), Array(1f, -1f)),
          (Array(Float.MinPositiveValue, -Float.MinPositiveValue), Array(0.5f, 0.5f)),
          (Array(1e-40f, 3e-39f, -0f), Array(1e-40f, -3e-39f, 0f)))
        val all = ps ++ edge
        val got = s.sparkContext.parallelize(all.zipWithIndex.map { case ((a, b), i) =>
            (i.toLong, a, b) }, 2).toDF("id", "a", "b")
          .select(col("id"), DotProductFloat(col("a"), col("b")))
          .collect().map(r => r.getLong(0).toInt ->
            java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
        val want = all.indices.map { i =>
          val (a, b) = all(i)
          i -> java.lang.Double.doubleToRawLongBits(VectorModel.dot(a, 0, b))
        }.toMap
        Prop(got == want) :| mode
      }, 3)
    }
  }

  test("the lattice hash and the centroid type live only in the kernel") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val kernel = root.resolve("functions/VectorModel.scala")
    val centroidClass = """case\s+class\s+\w*Centroid\b""".r
    def hits(f: java.nio.file.Path) = for {
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("2654435761L") || centroidClass.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits(kernel).size == 2, "the kernel must hold the one hash and the one centroid type")
    val files = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f != kernel).toVector
    assert(files.exists(_.getFileName.toString == "SimilarityQueries.scala"))
    val found = files.flatMap(hits)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("each top-K spelling of SimilarityQueries lives in its one helper") {
    val file = Paths.get("src/main/scala/graft/queries/SimilarityQueries.scala")
    assert(Files.exists(file), s"$file not found from ${Paths.get("").toAbsolutePath}")
    val lines = Files.readAllLines(file).asScala.toVector
    // the owner of a line is the last object member declared above it
    val member = """^  (?:private(?:\[\w+\])?\s+)?(?:def|val|lazy val)\s+(\w+)""".r
    val owners = lines.scanLeft("")((owner, line) =>
      member.findFirstMatchIn(line).map(_.group(1)).getOrElse(owner)).tail
    def owned(token: String) = lines.indices.filter(i => lines(i).contains(token))
      .map(i => owners(i) -> s"$file:${i + 1}: ${lines(i).trim}")
    // token -> the helpers allowed to spell it, and how many sites there are
    val rules = Seq(
      "ROW_NUMBER() OVER" -> (Set("nearestCellSql", "topKSql"), 2),
      "topKByCos(broadcast(" -> (Set("probeTopK"), 1),
      "queries(\"knn_brute\")" -> (Set("recallAtK"), 1),
      "as(\"recall_r\")" -> (Set("recallAtK"), 1),
      "AS recall_r" -> (Set("recallSql"), 1))
    rules.foreach { case (token, (helpers, sites)) =>
      val hits = owned(token)
      val stray = hits.filterNot(h => helpers.contains(h._1)).map(_._2)
      assert(stray.isEmpty, s"`$token` outside ${helpers.mkString(", ")}:\n${stray.mkString("\n")}")
      assert(hits.size == sites, s"`$token`: ${hits.size} sites, expected $sites")
    }
  }
}

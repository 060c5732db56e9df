package graft

import java.lang.{Double => JDouble, Float => JFloat}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import graft.queries.StreamingQueries
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Encoders}
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** The JSON wire contract of [[Replay]]: rows of every wire type,
  * written as chunk files and read back through the streaming reader,
  * equal the input exactly. Generated values include both ends of the
  * long range, finite doubles and floats compared bit for bit (-0.0,
  * subnormals, ±1e308, arbitrary bit patterns), strings with quotes,
  * backslashes, control, non-ASCII and supplementary-plane characters
  * and empty strings, and binary payloads.
  *
  * `tMs` is the exception for long extremes: the reader derives the
  * event-time `ts` from it, so it is drawn within the SQL timestamp
  * range (years 0001 to 9999).
  *
  * Each round trip is one streaming query, so a property draws one
  * batch of rows per type (the edge values always among them) instead
  * of one query per value.
  *
  * The layout cases pin [[Replay.chunks]] (at most `n` chunks, in
  * order, covering the input), the strictly increasing mod times, and
  * chunk i as micro-batch i with the flush chunk last.
  */
class ReplayWireSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val longEdges = Seq(Long.MinValue, Long.MaxValue, 0L, -1L)
  private val longGen: Gen[Long] = Gen.frequency(1 -> Gen.oneOf(longEdges), 3 -> Gen.long)
  private val (tsMin, tsMax) = (-62135596800000L, 253402300799999L)
  private val tMsGen: Gen[Long] =
    Gen.frequency(1 -> Gen.oneOf(tsMin, tsMax, 0L), 3 -> Gen.choose(tsMin, tsMax))
  private val intGen: Gen[Int] =
    Gen.frequency(1 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0), 3 -> Gen.posNum[Int])

  private val doubleEdges = Seq(-0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
    JDouble.MIN_NORMAL, 2.2250738585072E-308, 1e308, -1e308, Double.MaxValue, 0.1, 1.0 / 3)
  private val doubleGen: Gen[Double] = Gen.frequency(
    1 -> Gen.oneOf(doubleEdges),
    2 -> Gen.long.map(JDouble.longBitsToDouble).map(d => if (d.isNaN || d.isInfinite) 0.5 else d),
    1 -> Gen.choose(-1e6, 1e6))
  private val floatEdges = Seq(-0.0f, 0.0f, Float.MinPositiveValue, JFloat.MIN_NORMAL,
    Float.MaxValue, -Float.MaxValue, 0.1f, 1.0f / 3)
  private val floatGen: Gen[Float] = Gen.frequency(
    1 -> Gen.oneOf(floatEdges),
    2 -> Gen.choose(Int.MinValue, Int.MaxValue).map(JFloat.intBitsToFloat)
      .map(f => if (f.isNaN || f.isInfinite) 0.5f else f))

  private val piece: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("\"", "\\", "/", "\n", "\r", "\t", "\u0000", "\u0001", "\u001f",
      "\u007f", " ", "{", "}", ",", ":"),
    1 -> Gen.oneOf("é", "ß", "中", "ж", "€"),
    1 -> Gen.oneOf("😀", "𝄞", "🌍"),
    1 -> Gen.choose(0x20, 0xD7FF).map(_.toChar.toString))
  private val stringEdges = Seq("", "\"", "\\", "\u0000", "😀", "é\n\t\"x\"\\")
  private val stringGen: Gen[String] =
    Gen.frequency(1 -> Gen.oneOf(stringEdges), 4 -> Gen.listOf(piece).map(_.mkString))
  private val bytesGen: Gen[Array[Byte]] =
    Gen.frequency(1 -> Gen.const(Array.emptyByteArray),
      4 -> Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray))

  /** Value identity for the comparison: doubles and floats by bits,
    * arrays by content.
    */
  private def canon(v: Any): Any = v match {
    case d: Double => ("d", JDouble.doubleToRawLongBits(d))
    case f: Float => ("f", JFloat.floatToRawIntBits(f))
    case a: Array[_] => a.toSeq.map(canon)
    case x => x
  }
  private def bag(rows: Seq[Product]): Map[Seq[Any], Int] =
    rows.map(_.productIterator.map(canon).toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** Write `rows` in 3 chunks, stream them back into a memory table and
    * collect them as `T`.
    */
  private def roundTrip[T <: Product : TypeTag](rows: Seq[T]): Seq[T] = {
    val ss = StreamingQueries.streamSession(spark)
    val dir = Replay.write(rows, 3)
    val name = "wire_" + java.util.UUID.randomUUID().toString.replace("-", "")
    Replay.run(Replay.read[T](ss, dir).writeStream.format("memory").queryName(name),
      dirs = Seq(dir))((q, _) => q.processAllAvailable())
    ss.table(name).as(Encoders.product[T]).collect().toSeq
  }

  private def roundTrips[T <: Product : TypeTag](edges: Seq[T], gen: Gen[T]): Unit =
    check(forAll(Gen.listOfN(150, gen)) { drawn =>
      val rows = edges ++ drawn
      val got = roundTrip(rows)
      bag(got) == bag(rows)
    }, n = 2)

  test("Ev rows round-trip exactly") {
    val gen = for {
      u <- longGen; e <- longGen; t <- tMsGen; s <- stringGen; v <- doubleGen
    } yield Ev(u, e, t, s, v)
    val edges = for (l <- longEdges; d <- doubleEdges; s <- stringEdges.take(2))
      yield Ev(l, -l, 0L, s, d)
    roundTrips(edges, gen)
  }

  test("DocEvent rows round-trip exactly") {
    val gen = for {
      d <- longGen; t <- tMsGen; text <- stringGen; src <- stringGen
    } yield DocEvent(d, t, text, src)
    roundTrips(stringEdges.map(s => DocEvent(Long.MinValue, 0L, s, s)), gen)
  }

  test("RideEvent rows round-trip exactly") {
    val gen = for {
      r <- longGen; t <- tMsGen; s <- Gen.oneOf(true, false)
      lon <- doubleGen; lat <- doubleGen; p <- intGen
    } yield RideEvent(r, t, s, lon, lat, p)
    roundTrips(doubleEdges.map(d => RideEvent(Long.MaxValue, 0L, isStart = true, d, -d,
      Int.MinValue)), gen)
  }

  test("EmbeddingRow rows round-trip exactly, floats bit for bit") {
    val gen = for (id <- longGen; e <- Gen.listOf(floatGen)) yield EmbeddingRow(id, e.toArray)
    roundTrips(Seq(EmbeddingRow(Long.MinValue, floatEdges.toArray),
      EmbeddingRow(Long.MaxValue, Array.emptyFloatArray)), gen)
  }

  test("MediaRow rows round-trip exactly, binary payloads included") {
    val gen = for (id <- longGen; k <- stringGen; p <- bytesGen) yield MediaRow(id, k, p)
    roundTrips(Seq(MediaRow(0L, "", Array.emptyByteArray),
      MediaRow(1L, "im\"age", Array[Byte](0, -1, 127, -128, 10, 13))), gen)
  }

  test("chunks: at most n chunks, in order, covering the input") {
    check(forAll(Gen.listOf(Gen.choose(0, 1000)), Gen.choose(1, 20)) { (rows, n) =>
      val c = Replay.chunks(rows, n)
      c.size <= n && c.flatten == rows && c.forall(_.nonEmpty)
    }, n = 300)
  }

  test("chunk i is micro-batch i, the flush chunk is the last one, mod times increase") {
    val ss = StreamingQueries.streamSession(spark)
    val evs = (0 until 10).map(i => Ev(i, i, 1700000000000L + i, "view", i.toDouble))
    val flush = Seq(Ev(-1L, -1L, 1700000009999L, "view", 0.0))
    val dir = Replay.write(evs, 3, flush)
    val files = Files.list(Paths.get(dir)).iterator().asScala.toVector.sortBy(_.getFileName.toString)
    val mtimes = files.map(f => Files.getLastModifiedTime(f).toMillis)
    assert(files.size == 4)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, mtimes.toString)
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    Replay.run(Replay.read[Ev](ss, dir).writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          batches.synchronized {
            batches += id -> b.select("eventId").collect().map(_.getLong(0)).toSeq.sorted
          }
          ()
        },
      dirs = Seq(dir))((q, _) => q.processAllAvailable())
    val want = (Replay.chunks(evs, 3) :+ flush).map(_.map(_.eventId).sorted)
    assert(batches.sortBy(_._1).map(_._2) == want)
    assert(batches.map(_._1).sorted == want.indices.map(_.toLong))
  }
}

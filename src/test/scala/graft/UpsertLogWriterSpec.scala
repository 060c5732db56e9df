package graft

import java.sql.Timestamp
import java.time.Instant

import graft.streaming.{KeyedUpsertSink, TempDir}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The upsert log's own parquet writer (`KeyedUpsertSink.upsert`,
  * one file per partition, atomic rename) against Spark's
  * `write.parquet` of the same rows: every column type the sink's
  * callers emit must read back identically, and a re-delivered batch
  * id must rewrite its files instead of adding a second copy.
  */
class UpsertLogWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("ts", TimestampType),
    StructField("dec", DecimalType(38, 0)),
    StructField("arr", ArrayType(LongType))))

  private def ts(s: String) = Timestamp.from(Instant.parse(s))
  private def dec(s: String) = new java.math.BigDecimal(s)

  private val rows = Seq(
    Row(1, 1L, Double.NaN, "zürich ☃ 東京 🚕", ts("2024-02-29T12:34:56.123456Z"),
      dec("12345678901234567890123456789012345678"), Seq(1L, 2L, Long.MaxValue)),
    Row(2, Long.MinValue, -0.0, "", ts("1969-12-31T23:59:59.999999Z"),
      dec("-99999999999999999999999999999999999999"), Seq.empty[Long]),
    Row(3, null, null, null, null, null, null),
    Row(4, Long.MaxValue, Double.NegativeInfinity, "a\u0000b", ts("2038-01-19T03:14:08.000001Z"),
      dec("0"), Seq(3L, null.asInstanceOf[java.lang.Long], -4L)),
    Row(5, 0L, 0.0, "ünïcödé", ts("2000-01-01T00:00:00Z"), dec("1"), null))

  private def frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def byKey(rs: Array[Row]): Seq[Row] = rs.toSeq.sortBy(_.getInt(0))

  /** Every file in the log dir, hidden temp files included. */
  private def files(dir: java.nio.file.Path): Seq[String] =
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else dir.toFile.listFiles().map(_.getName).toSeq.sorted

  test("upsert round-trips every column type exactly as write.parquet does") {
    val base = TempDir.create("graft-upsert-types-")
    val sink = new KeyedUpsertSink(Seq("k"), base.resolve("log").toString)
    try {
      frame.withColumn("_batch_id", lit(0L)).write.parquet(base.resolve("ref").toString)
      val ref = spark.read.parquet(base.resolve("ref").toString).drop("_batch_id")
      sink.upsert(frame, 0L)
      val got = sink.toDF(spark)
      assert(got.schema.map(f => f.name -> f.dataType) == ref.schema.map(f => f.name -> f.dataType))
      val (g, r) = (byKey(got.collect()), byKey(ref.collect()))
      assert(g == r)
      assert(g.size == rows.size)
      // Row equality treats NaN as equal to NaN but -0.0 as equal to 0.0:
      // compare the doubles bit for bit as well
      def bits(rs: Seq[Row]) = rs.map(x =>
        if (x.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(x.getDouble(2))))
      assert(bits(g) == bits(r))
      assert(bits(g)(1).contains(java.lang.Double.doubleToRawLongBits(-0.0)))
      assert(g.head.getTimestamp(4).getNanos == 123456000)
    } finally { sink.close(); TempDir.deleteRecursively(base.toString) }
  }

  test("a re-delivered batch id rewrites its files: same file set, no second copy") {
    val base = TempDir.create("graft-upsert-replay-")
    val dir = base.resolve("nested").resolve("log") // upsert creates the log dir
    val sink = new KeyedUpsertSink(Seq("k"), dir.toString)
    try {
      sink.upsert(frame, 0L)
      val once = files(dir)
      assert(once.nonEmpty && once.forall(f => f.startsWith("b0-p") && f.endsWith(".parquet")), once)
      sink.upsert(frame, 0L) // Spark's replay of batch 0
      assert(files(dir) == once, "a replay must publish the same files, and leave no temp file")
      assert(spark.read.parquet(dir.toString).count() == rows.size, "no second copy of batch 0")
      sink.upsert(frame.filter(col("k") === 1).withColumn("l", lit(7L)), 1L)
      assert(files(dir).count(_.startsWith("b1-p")) >= 1)
      assert(sink.toDF(spark).filter(col("k") === 1).head().getLong(1) == 7L)
    } finally { sink.close(); TempDir.deleteRecursively(base.toString) }
  }

  test("a batch with no partitions still leaves one schema-carrying file") {
    import spark.implicits._
    val base = TempDir.create("graft-upsert-empty-")
    val dir = base.resolve("log")
    val sink = new KeyedUpsertSink(Seq("k"), dir.toString)
    try {
      val empty = Seq.empty[(Int, String)].toDF("k", "v")
      assert(empty.rdd.getNumPartitions == 0)
      sink.upsert(empty, 0L)
      assert(files(dir) == Seq("b0-p0.parquet"))
      assert(sink.toDF(spark).columns.toSeq == Seq("k", "v"))
      assert(sink.toDF(spark).collect().isEmpty)
    } finally { sink.close(); TempDir.deleteRecursively(base.toString) }
  }

  test("a log path that is not a local file: path is refused at construction") {
    val e = intercept[IllegalArgumentException](new KeyedUpsertSink(Seq("k"), "hdfs://nn:8020/upsert-log"))
    assert(e.getMessage.contains("file:"))
    val base = TempDir.create("graft-upsert-uri-")
    val sink = new KeyedUpsertSink(Seq("k"), s"file:${base.resolve("log")}")
    try {
      sink.upsert(frame, 0L)
      assert(sink.toDF(spark).count() == rows.size)
    } finally { sink.close(); TempDir.deleteRecursively(base.toString) }
  }
}

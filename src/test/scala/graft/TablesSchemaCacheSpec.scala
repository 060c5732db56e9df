package graft

import java.nio.file.Path

import graft.streaming.TempDir
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` resolves a table file's schema once: later loads pass
  * it as a user schema, so they launch no schema-inference job and
  * still read exactly what an uncached `spark.read.parquet` reads.
  */
class TablesSchemaCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** Row count and the decimal sum of every row's full-row hash. */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** A parquet file written by parquet-mr itself, so its footer carries
    * no Spark schema and the reader's conf decides the Spark types.
    */
  private def writeParquet(file: Path, schema: String, rows: Seq[Seq[Any]]): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(t).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val f = new SimpleGroupFactory(t)
    try rows.foreach { row =>
      val g = f.newGroup()
      row.zipWithIndex.foreach {
        case (v: Long, i) => g.add(i, v)
        case (v: Double, i) => g.add(i, v)
        case (v: String, i) => g.add(i, v)
        case (v, _) => throw new IllegalArgumentException(s"unsupported value $v")
      }
      w.write(g)
    } finally w.close()
  }

  test("a repeated Tables.lineitem submits no Spark job before it executes") {
    Tables.lineitem(spark, sf)
    val uncached = JobCount.during(spark)(spark.read.parquet(s"$sf/lineitem.parquet").queryExecution.executedPlan)
    assert(uncached >= 1, "an uncached read infers its schema with a job")
    assert(JobCount.during(spark)(Tables.lineitem(spark, sf).queryExecution.executedPlan) == 0)
  }

  test("every sf0.001 table reads the same schema (names, types, nullability) and rows cached as uncached") {
    tables.foreach { name =>
      Tables.load(spark, sf, name)
      val cached = Tables.load(spark, sf, name)
      val uncached = spark.read.parquet(s"$sf/$name.parquet")
      assert(cached.schema == uncached.schema, name)
      assert(fingerprint(cached) == fingerprint(uncached), name)
    }
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = TempDir.create("graft-tables-rewrite-")
    try {
      val file = dir.resolve("t.parquet")
      writeParquet(file, "message m { required int64 id; required binary s (UTF8); }",
        Seq(Seq(1L, "a"), Seq(2L, "b")))
      assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("id", "s"))
      assert(Tables.load(spark, dir.toString, "t").count() == 2)
      writeParquet(file, "message m { required int64 id; required double x; required binary y (UTF8); }",
        Seq(Seq(7L, 0.5, "p"), Seq(8L, 1.5, "q"), Seq(9L, 2.5, "r")))
      val reread = Tables.load(spark, dir.toString, "t")
      assert(reread.schema == spark.read.parquet(file.toString).schema)
      assert(reread.columns.toSeq == Seq("id", "x", "y"))
      assert(reread.agg(sum(col("x"))).head().getDouble(0) == 4.5)
    } finally TempDir.deleteRecursively(dir.toString)
  }

  test("a scoped session with binaryAsString reads a binary column as string") {
    val dir = TempDir.create("graft-tables-binary-")
    try {
      writeParquet(dir.resolve("bin.parquet"), "message m { required int64 id; required binary b; }",
        Seq(Seq(1L, "x"), Seq(2L, "yz")))
      assert(Tables.load(spark, dir.toString, "bin").schema("b").dataType == BinaryType)
      assert(Tables.load(spark, dir.toString, "bin").schema("b").dataType == BinaryType)
      val scoped: SparkSession = Tables.scopedSession(spark)
      scoped.conf.set("spark.sql.parquet.binaryAsString", "true")
      val uncached = scoped.read.parquet(dir.resolve("bin.parquet").toString)
      val cached = Tables.load(scoped, dir.toString, "bin")
      assert(uncached.schema("b").dataType == StringType)
      assert(cached.schema == uncached.schema)
      assert(cached.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("x", "yz"))
    } finally TempDir.deleteRecursively(dir.toString)
  }

  test("a self-join of two cached orders loads has distinct exprIds and equals the uncached join") {
    Tables.orders(spark, sf)
    val (l, r) = (Tables.orders(spark, sf), Tables.orders(spark, sf))
    val lIds = l.queryExecution.analyzed.output.map(_.exprId).toSet
    val rIds = r.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(lIds.intersect(rIds).isEmpty)
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.as("a").join(b.as("b"), col("a.o_custkey") === col("b.o_custkey"))
        .select(col("a.o_custkey"), col("a.o_orderkey").as("a_key"), col("b.o_orderkey").as("b_key"))
    val path = s"$sf/orders.parquet"
    val cached = fingerprint(selfJoin(l, r))
    assert(cached._1 >= l.count(), "every order matches at least itself")
    assert(cached == fingerprint(selfJoin(spark.read.parquet(path), spark.read.parquet(path))))
  }
}

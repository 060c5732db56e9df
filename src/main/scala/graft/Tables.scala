package graft

import java.io.FileNotFoundException

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central table loader for the driver's parquet test tables
  * (see TESTDATA.md). Every query reads through here so the
  * parquet scan options stay consistent (vectorized reader, pushdown).
  *
  * At 100 TB these tables would be partitioned directories instead of
  * single files; `spark.read.parquet` handles both transparently, and
  * all downstream operators rely only on column pruning + predicate
  * pushdown (visible in `.explain("formatted")` as ReadSchema /
  * PushedFilters), never on physical layout.
  *
  * Schema cache: a bare `spark.read.parquet` infers the file's schema
  * with a Spark job (`ParquetUtils.inferSchema` reads the footer in a
  * task) on every call. [[load]] infers a regular file's schema once
  * per JVM and hands it to every later read as a user schema, which
  * skips that job and the footer read; the file is still listed. The
  * key is the file's identity (qualified path, length, modification
  * time, from `FileSystem.getFileStatus`, so a rewritten file is
  * inferred again) plus the reading session's explicitly set
  * `spark.sql.parquet.*`, `spark.sql.legacy.parquet.*` and
  * `spark.sql.caseSensitive` values, the inputs of the parquet-to-Spark
  * schema conversion (a session with `binaryAsString` gets its own
  * entry). Only `StructType`s are cached, never frames or relations:
  * every load builds a fresh relation with fresh attribute ids, so two
  * loads of one table still self-join. A path that is not a regular
  * file (a partitioned directory, a missing path) is read uncached.
  */
object Tables {
  private final case class SchemaKey(path: String, length: Long, modified: Long,
      conf: Seq[(String, String)])

  private val schemas = TrieMap.empty[SchemaKey, StructType]

  private def readerConf(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = SchemaKey(st.getPath.toString, st.getLen, st.getModificationTime, readerConf(spark))
        schemas.get(key) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.putIfAbsent(key, df.schema)
            df
        }
    }
  }

  /** Child session that STARTS FROM the parent's runtime conf (a bare
    * `newSession()` resets to the SparkContext's initial conf,
    * silently dropping anything the caller — or a spec — set at
    * runtime, e.g. AQE toggles). Used to scope plan-affecting flags
    * to one query without mutating the shared session: the flag must
    * outlive the builder (plans resolve lazily at execution), so a
    * save/restore can't do this, but a session the returned frame is
    * bound to can. Static confs can't be re-set and are skipped.
    */
  def scopedSession(parent: SparkSession): SparkSession = {
    val s = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      try s.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    s
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** `events.ts` is microsecond-precision parquet TIMESTAMP. All
    * event-time logic standardizes on *millisecond* precision — the
    * reference's native unit (Flink event time is epoch millis,
    * `sources/TaxiRideSource.scala:116`) — via `date_trunc`, which for
    * the fixture's post-epoch timestamps is the same floor the DuckDB
    * oracles compute with `epoch_ms(date_trunc('millisecond', ts))`,
    * so Spark and the oracle agree bit-for-bit.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "events")
      .withColumn("ts", date_trunc("millisecond", col("ts")))
}

package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** O14: keyed idempotent upsert sink
  * (reference `sinks/ElasticsearchUpsertSink.scala:42-81`).
  *
  * The semantic contract the reference relies on: the sink is *keyed*
  * and *idempotent* — re-emissions of a key overwrite, so Update-mode
  * per-micro-batch emission converges to the same state as Flink's
  * per-record emission (SURVEY.md §7 decision log).
  *
  * Implementation is an *upsert log with merge-on-read compaction* —
  * the shape a keyed external store takes on Spark at scale:
  *
  *  - `upsert` (the `foreachBatch` callback) writes the micro-batch,
  *    stamped with the batch id, as one parquet file per partition:
  *    each task writes its rows with Spark's own `ParquetWriteSupport`
  *    through parquet's `java.nio` `LocalOutputFile` to a hidden temp
  *    file named after its task attempt, then atomically renames it to
  *    `b<batchId>-p<partition>.parquet` — the publication protocol
  *    `NioCheckpointFileManager` uses for checkpoints. The write is
  *    executor-parallel and touches nothing but the new rows — no
  *    driver collect, no read-modify-write of existing state, so
  *    per-batch cost stays O(batch), independent of accumulated keys.
  *    Hadoop's job commit protocol (`_temporary` dirs, renames,
  *    `_SUCCESS`), its per-file `chmod` forks without native Hadoop and
  *    the per-task `Configuration` round trip are all skipped; a
  *    replay-safe idempotent sink does not need them.
  *  - Replays overwrite: Spark re-delivers a failed batch under the
  *    same batch id, which re-publishes the same file names. Files are
  *    published per task, so a failed job can leave some of a batch's
  *    files visible until Spark replays that batch id; those rows are
  *    the batch's own output and the replay rewrites them, so state
  *    still converges under last-write-wins. The reference's per-record
  *    ES upserts have the same property.
  *  - `toDF` compacts: last write (max `_batch_id`) wins per key — one
  *    shuffle on the key columns.
  *
  * At 100 TB the log lives on the object store partitioned by batch id
  * and compaction runs either at read (this form) or periodically
  * folding the log into a base table; the pipeline code is unchanged.
  * The file writer here is local (`file:` paths only, checked at
  * construction); on shared object storage the same seam becomes a
  * table-format commit (Delta/Iceberg).
  */
final class KeyedUpsertSink(keyCols: Seq[String], logPath: String)
    extends Serializable {
  import KeyedUpsertSink._

  def this(keyCols: Seq[String]) =
    this(keyCols, KeyedUpsertSink.tempLogDir())

  /** Local directory of the log; a non-`file:` path is refused here,
    * before any batch is written.
    */
  private val localDir: String = {
    val uri = new org.apache.hadoop.fs.Path(logPath).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"KeyedUpsertSink writes only local file: paths, got $logPath")
    uri.getPath
  }

  private def dir: Path = Paths.get(localDir)

  /** The row schema (with `_batch_id`) of the last write, which `toDF`
    * and `compact` hand to their reads so Spark skips its schema-
    * inference job. A sink that has not written yet (one opened over an
    * existing log) infers.
    */
  @volatile private var logSchema: Option[StructType] = None

  private def readLog(spark: SparkSession, paths: String*): DataFrame =
    logSchema.fold(spark.read)(spark.read.schema).parquet(paths: _*)

  /** `foreachBatch` callback: executor-side write of the micro-batch
    * to the keyed upsert log, one file per partition.
    */
  def upsert(batch: Dataset[Row], batchId: Long): Unit =
    writeLog(batch.withColumn("_batch_id", lit(batchId)), s"b$batchId")

  /** The sink's one write path: every partition of `df` becomes
    * `<prefix>-p<partition>.parquet` in the log dir. A frame with no
    * partitions at all (an empty local relation) still leaves one
    * schema-only file, so `toDF` can read an otherwise-empty log.
    */
  private def writeLog(df: DataFrame, prefix: String): Unit = {
    val schema = df.schema
    val conf = writerConf(df.sparkSession, schema)
    val rdd = df.queryExecution.toRdd
    val d = localDir // the task closure takes locals, not the sink
    Files.createDirectories(dir)
    if (rdd.getNumPartitions == 0) writePartition(d, prefix, 0, conf, Iterator.empty)
    else rdd.sparkContext.runJob(rdd,
      (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        writePartition(d, prefix, ctx.partitionId(), conf, rows))
    logSchema = Some(schema)
  }

  /** Current state: last-write-wins per key over the log. `max_by` of
    * the value struct on batch id — a single aggregation with
    * map-side partial reduction, vs the `row_number` window form that
    * shuffles every log row and sorts each key's history. (Spark
    * plans the `max_by` as SortAggregate, not HashAggregate — struct
    * buffers fail `UnsafeRow.isMutable` — but the sorts are local
    * over narrow pre-reduced rows; what matters at scale is that
    * only one row per key per map partition crosses the exchange,
    * same as `text_curation_pipeline`.) A replayed batch rewrites its
    * own files, so one batch id never holds two versions of a key.
    * Degenerate all-key schema (no value columns): last-write-wins
    * reduces to key dedup — `max_by(struct())` would fail analysis.
    */
  def toDF(spark: SparkSession): DataFrame =
    fold(readLog(spark, logPath))

  private def fold(log: DataFrame): DataFrame = {
    val valueCols = log.columns.filterNot(c => keyCols.contains(c) || c == "_batch_id")
    if (valueCols.isEmpty) log.dropDuplicates(keyCols).drop("_batch_id")
    else log.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), col("_batch_id")).as("_v"))
      .select(log.columns.filterNot(_ == "_batch_id").map(c =>
        if (keyCols.contains(c)) col(c) else col(s"_v.`$c`").as(c)): _*)
  }

  /** Fold the accumulated log into a compacted base — the periodic
    * MERGE a keyed store runs at scale so read cost stops growing with
    * total batches ever written. A snapshot of the current log files is
    * folded (last-write-wins), written back through the same per-
    * partition writer as `upsert`, stamped with the snapshot's max
    * `_batch_id`, and only the consumed files are deleted — writes
    * that race the compaction survive untouched, and the add-before-
    * delete ordering makes a crash mid-compact safe (leftover consumed
    * files are duplicates that fold away idempotently: the compacted
    * row carries the same batch id and, by last-write-wins, the same
    * value as the newest row it replaced). `toDF` is unchanged — it
    * keeps folding whatever files exist.
    */
  def compact(spark: SparkSession): Unit = {
    if (!Files.isDirectory(dir)) return
    val consumed = {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toVector
      finally s.close()
    }
    if (consumed.isEmpty) return
    // strictly increasing generation number keeps new file names
    // disjoint from every consumed file (including prior compact
    // output), so add-before-delete never collides with itself
    val gen = consumed.flatMap(f =>
      "compact-g(\\d+)-".r.findFirstMatchIn(f.getFileName.toString)
        .map(_.group(1).toInt)).maxOption.getOrElse(0) + 1
    val snapshot = readLog(spark, consumed.map(_.toString): _*)
    // a log holding only zero-row files (an empty micro-batch still
    // writes a schema-only parquet file) has nothing to fold — and
    // max(_batch_id) would be null. Leave the files; they carry the
    // schema toDF needs on an otherwise-empty log.
    val maxBatchRow = snapshot.agg(max(col("_batch_id"))).head()
    if (maxBatchRow.isNullAt(0)) return
    writeLog(fold(snapshot).withColumn("_batch_id", lit(maxBatchRow.getLong(0))),
      f"compact-g$gen%05d")
    consumed.foreach(Files.deleteIfExists(_))
  }

  def size(spark: SparkSession): Long = toDF(spark).count()

  /** Delete the ephemeral log dir. Call after the compacted state has
    * been materialized (e.g. `toDF(...).localCheckpoint()`) — `toDF`
    * itself is lazy over the log files.
    */
  def close(): Unit = TempDir.deleteRecursively(localDir)
}

object KeyedUpsertSink {
  /** Default log dir on driver-local tmpfs — same rationale as
    * streaming checkpoints (9p container filesystems make
    * many-small-file IO the bottleneck, and the replay-harness log is
    * ephemeral). NOTE: a driver-local path is only executor-reachable
    * in local mode (or with a shared filesystem); on a real cluster the
    * "executor-parallel write" property requires routing `logPath` to
    * a shared mount via the primary constructor.
    */
  private def tempLogDir(): String = TempDir.create("graft-upsert-").toString

  /** The Spark SQL settings `ParquetWriteSupport` reads from its Hadoop
    * configuration (the ones Spark's own parquet write sets), taken from
    * the writing session, plus the row schema. Shipped to the tasks as a
    * plain map: a handful of strings instead of a whole `Configuration`.
    */
  private def writerConf(spark: SparkSession, schema: StructType): Map[String, String] = {
    val c = new Configuration(false)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
      .foreach(e => c.set(e.key, spark.conf.get(e.key)))
    ParquetWriteSupport.setSchema(schema, c)
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Write one partition to a hidden temp file named after the task
    * attempt (a retried or speculative attempt cannot collide with
    * another), then atomically rename it over `<prefix>-p<partition>`.
    * An empty partition other than 0 publishes nothing (and removes a
    * previous attempt's file of that name), the way Spark's own file
    * writer leaves only partition 0 as the schema carrier.
    */
  private def writePartition(
      dir: String, prefix: String, partition: Int,
      conf: Map[String, String], rows: Iterator[InternalRow]): Unit = {
    val dst = Paths.get(dir, s"$prefix-p$partition.parquet")
    if (partition != 0 && !rows.hasNext) {
      Files.deleteIfExists(dst)
      return
    }
    val attempt = Option(TaskContext.get())
      .fold(s"driver-${UUID.randomUUID()}")(c => s"attempt-${c.taskAttemptId()}")
    val tmp = dst.resolveSibling(s".${dst.getFileName}.$attempt.tmp")
    val hconf = new Configuration(false)
    conf.foreach { case (k, v) => hconf.set(k, v) }
    try {
      val w = new RowWriterBuilder(new LocalOutputFile(tmp))
        .withConf(hconf)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      try rows.foreach(w.write) finally w.close()
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Throwable =>
        Files.deleteIfExists(tmp)
        throw e
    }
  }
}

package graft

import graft.streaming.KeyedUpsertSink
import org.scalatest.funsuite.AnyFunSuite

/** O14 sink contract: last-write-wins per key, and `compact()` — the
  * periodic fold-into-base MERGE shape — is observationally invisible:
  * any interleaving of upserts and compactions yields the same `toDF`
  * as the never-compacted log, while the log stops growing with total
  * batches ever written.
  */
class KeyedUpsertSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def logFiles(sink: KeyedUpsertSink): Seq[String] = {
    val f = new java.io.File(sinkPath(sink))
    if (!f.isDirectory) Nil
    else f.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq.sorted
  }

  // logPath is a constructor arg; reach it via a known temp dir instead
  private val dirs = scala.collection.mutable.Map.empty[KeyedUpsertSink, String]
  private def newSink(keys: Seq[String], base: Option[java.nio.file.Path] = None): KeyedUpsertSink = {
    val dir = base match {
      case Some(b) => java.nio.file.Files.createTempDirectory(b, "graft-upsert-spec-")
      case None => graft.streaming.TempDir.create("graft-upsert-spec-")
    }
    java.nio.file.Files.delete(dir)
    val s = new KeyedUpsertSink(keys, dir.toString)
    dirs(s) = dir.toString
    s
  }
  private def sinkPath(s: KeyedUpsertSink): String = dirs(s)

  private def state(s: KeyedUpsertSink): Map[Int, (String, Long)] =
    s.toDF(spark).collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("foreachBatch RETRY (same batchId re-delivered) is idempotent") {
    // Structured Streaming re-invokes foreachBatch with the SAME
    // batchId after a failure; the sink must converge as if the batch
    // ran once. Also pin the cross-batch overwrite ordering around a
    // retried batch — the retry must not resurrect older state.
    import spark.implicits._
    val sink = newSink(Seq("k"))
    try {
      sink.upsert(Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "v", "n"), 0L)
      val once = state(sink)
      sink.upsert(Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "v", "n"), 0L) // retry
      assert(state(sink) == once, "replayed batch 0 must fold away")
      sink.upsert(Seq((1, "a2", 11L)).toDF("k", "v", "n"), 1L)
      val after1 = state(sink)
      sink.upsert(Seq((1, "a2", 11L)).toDF("k", "v", "n"), 1L) // retry of batch 1
      assert(state(sink) == after1)
      assert(state(sink)(1) == ("a2", 11L) && state(sink)(2) == ("b", 20L))
      // retry interleaved with compaction: same convergence
      sink.compact(spark)
      sink.upsert(Seq((2, "b2", 21L)).toDF("k", "v", "n"), 2L)
      sink.upsert(Seq((2, "b2", 21L)).toDF("k", "v", "n"), 2L)
      assert(state(sink) == Map(1 -> ("a2", 11L), 2 -> ("b2", 21L)))
    } finally sink.close()
  }

  test("compact() preserves last-write-wins across interleaved upserts") {
    import spark.implicits._
    val batches = Seq(
      0L -> Seq((1, "a", 10L), (2, "b", 20L)),
      1L -> Seq((1, "a2", 11L), (3, "c", 30L)),
      2L -> Seq((2, "b2", 21L), (4, "d", 40L)),
      3L -> Seq((1, "a3", 12L)))
    val plain = newSink(Seq("k"))
    val compacted = newSink(Seq("k"))
    try {
      batches.foreach { case (id, rows) =>
        val df = rows.toDF("k", "tag", "v")
        plain.upsert(df, id)
        compacted.upsert(df, id)
        compacted.compact(spark) // compact after EVERY batch — worst case
        assert(state(compacted) == state(plain), s"diverged after batch $id")
      }
      // the compacted log holds exactly one generation of compact files,
      // not the 4 appended batches
      val names = logFiles(compacted)
      assert(names.nonEmpty && names.forall(_.startsWith("compact-")), names.toString)
      // upserts after the last compact still win
      plain.upsert(Seq((4, "d2", 41L)).toDF("k", "tag", "v"), 4L)
      compacted.upsert(Seq((4, "d2", 41L)).toDF("k", "tag", "v"), 4L)
      assert(state(compacted) == state(plain))
      assert(state(compacted)(4) == (("d2", 41L)))
    } finally { plain.close(); compacted.close() }
  }

  test("compact() is idempotent and safe on empty/missing logs") {
    import spark.implicits._
    val sink = newSink(Seq("k"))
    try {
      sink.compact(spark) // missing dir → no-op
      sink.upsert(Seq((1, "x", 1L)).toDF("k", "tag", "v"), 0L)
      sink.compact(spark)
      sink.compact(spark) // re-compact the compacted base
      assert(state(sink) == Map(1 -> (("x", 1L))))
    } finally sink.close()
  }

  test("compact() no-ops on a log of only empty micro-batches") {
    import spark.implicits._
    val sink = newSink(Seq("k"))
    try {
      // an empty update-mode micro-batch still appends a schema-only
      // parquet file; compact must neither crash (null max batch id)
      // nor delete the schema carrier
      sink.upsert(Seq.empty[(Int, String, Long)].toDF("k", "tag", "v"), 0L)
      sink.compact(spark)
      assert(sink.toDF(spark).collect().isEmpty)
      sink.upsert(Seq((1, "x", 1L)).toDF("k", "tag", "v"), 1L)
      sink.compact(spark)
      assert(state(sink) == Map(1 -> (("x", 1L))))
    } finally sink.close()
  }

  /** The whole sink contract re-run with the log on a REGULAR-DISK
    * dir (the object-store stand-in) instead of tmpfs — guards the
    * `java.nio` list/move/delete choreography in `compact()` against
    * tmpfs-only assumptions (KeyedUpsertSink.scala documents the
    * placement rationale; the file ops must be placement-agnostic).
    */
  test("upsert → compact → upsert equivalence holds on a regular-disk log dir") {
    import spark.implicits._
    val diskBase = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    assume(java.nio.file.Files.isWritable(diskBase))
    val plain = newSink(Seq("k"), Some(diskBase))
    val compacted = newSink(Seq("k"), Some(diskBase))
    try {
      val batches = Seq(
        0L -> Seq((1, "a", 10L), (2, "b", 20L)),
        1L -> Seq((1, "a2", 11L), (3, "c", 30L)),
        2L -> Seq((2, "b2", 21L)))
      batches.foreach { case (id, rows) =>
        val df = rows.toDF("k", "tag", "v")
        plain.upsert(df, id)
        compacted.upsert(df, id)
        compacted.compact(spark)
        assert(state(compacted) == state(plain), s"diverged after batch $id")
      }
      val names = logFiles(compacted)
      assert(names.nonEmpty && names.forall(_.startsWith("compact-")), names.toString)
      compacted.upsert(Seq((3, "c2", 31L)).toDF("k", "tag", "v"), 3L)
      plain.upsert(Seq((3, "c2", 31L)).toDF("k", "tag", "v"), 3L)
      assert(state(compacted) == state(plain))
      assert(state(compacted)(3) == (("c2", 31L)))
    } finally { plain.close(); compacted.close() }
  }

  test("after a write, toDF and compact read the log with its schema: no inference job") {
    import spark.implicits._
    val (sink, other) = (newSink(Seq("k")), newSink(Seq("k")))
    try {
      Seq(sink, other).foreach { s =>
        s.upsert(Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "v", "n"), 0L)
        s.upsert(Seq((1, "a2", 11L)).toDF("k", "v", "n"), 1L)
      }
      assert(JobCount.during(spark)(sink.toDF(spark).queryExecution.executedPlan) == 0)
      // a sink opened over an existing log has not written: it infers
      val reopened = new KeyedUpsertSink(Seq("k"), sinkPath(other))
      assert(JobCount.during(spark)(reopened.toDF(spark).queryExecution.executedPlan) == 1)
      assert(reopened.toDF(spark).schema == sink.toDF(spark).schema)
      // the same compaction over the same log, less the inference job
      val inferred = JobCount.during(spark)(reopened.compact(spark))
      assert(JobCount.during(spark)(sink.compact(spark)) == inferred - 1)
      assert(state(sink) == Map(1 -> ("a2", 11L), 2 -> ("b", 20L)))
      assert(state(reopened) == state(sink))
    } finally { sink.close(); other.close() }
  }

  test("all-key schema degenerates to key dedup") {
    import spark.implicits._
    val sink = newSink(Seq("k"))
    try {
      sink.upsert(Seq(Tuple1(1), Tuple1(2)).toDF("k"), 0L)
      sink.upsert(Seq(Tuple1(2), Tuple1(3)).toDF("k"), 1L)
      val keys = sink.toDF(spark).collect().map(_.getInt(0)).toSet
      assert(keys == Set(1, 2, 3))
      assert(sink.toDF(spark).columns.toSeq == Seq("k"))
    } finally sink.close()
  }
}

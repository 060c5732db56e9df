package graft

import graft.queries.StreamingQueries
import graft.streaming.{DocEvent, Replay, TempDir}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.scalatest.funsuite.AnyFunSuite

/** Fault tolerance — the streaming property none of the oracle entries
  * can exercise (they run each query once, start to finish): a
  * checkpointed ingest query STOPS mid-corpus and a NEW query resumes
  * from the same checkpoint + file sink. Exactly-once must hold ACROSS
  * the restart: the file-source log must not re-feed consumed chunks,
  * and the restored dedup state store must still drop at-least-once
  * re-deliveries that arrive only after the restart. At 100 TB this is
  * table stakes — long-running ingest WILL be restarted (deploys,
  * preemptions), and every re-delivery the upstream retries lands in a
  * later file listing than the original.
  */
class StreamRecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("ingest resumes from checkpoint: re-deliveries after restart still dedup") {
    val ss = StreamingQueries.streamSession(spark)
    // First copies of every doc in chunk 0; the at-least-once
    // RE-deliveries land in chunk 1, which only exists after the
    // restart. Event times span < 60 s (0.1 s spacing), so the
    // watermark can never evict the dedup state the resumed query
    // depends on.
    val docs = Tables.documents(ss, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .collect().map(r => DocEvent(r.getLong(0),
        1_700_000_000_000L + r.getLong(0) * 100L, r.getString(1), r.getString(2)))
      .toSeq.sortBy(_.docId)
    val chunkDir = TempDir.create("graft-recover-")
    val ckpt = TempDir.create("graft-ckpt-")
    val outDir = TempDir.create("graft-out-")
    def runUntilDrained(): Unit = {
      val q = StreamingQueries.ingestManifest(Replay.read[DocEvent](ss, chunkDir.toString))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("parquet").option("path", outDir.toString)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    try {
      Replay.writeChunk(chunkDir.toString, 0, docs)
      runUntilDrained() // first incarnation consumes chunk 0, then "crashes"
      val afterFirst = ss.read.parquet(outDir.toString).count()
      Replay.writeChunk(chunkDir.toString, 1, docs) // upstream retries everything
      runUntilDrained() // second incarnation resumes from the checkpoint
      val out = ss.read.parquet(outDir.toString)
        .select(col("doc_id")).collect().map(_.getLong(0))
      // batch gate = what exactly-once ingest must produce, no more
      val want = Tables.documents(ss, sf)
        .filter(graft.functions.TextFunctions.stopwordRatio(col("text")) >= 0.05)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(afterFirst == want.size, "first incarnation should emit the full gate")
      assert(out.length == out.distinct.length, "restart re-emitted rows")
      assert(out.toSet == want)
    } finally {
      TempDir.deleteRecursively(chunkDir.toString)
      TempDir.deleteRecursively(ckpt.toString)
      TempDir.deleteRecursively(outDir.toString)
      StateStoreBridge.unloadAll()
    }
  }

  test("AvailableNow resumes a continuous query's checkpoint: trigger modes interop") {
    // the docs_ingest_available_now claim made concrete: a scheduled
    // AvailableNow catch-up run takes over the CONTINUOUS query's
    // checkpoint (same source log, same dedup state) — the deployment
    // where a 24/7 stream is replaced by a nightly drain, or vice
    // versa, without re-ingesting or duplicating anything.
    val ss = StreamingQueries.streamSession(spark)
    val docs = Tables.documents(ss, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .collect().map(r => DocEvent(r.getLong(0),
        1_700_000_000_000L + r.getLong(0) * 100L, r.getString(1), r.getString(2)))
      .toSeq.sortBy(_.docId)
    val chunkDir = TempDir.create("graft-interop-")
    val ckpt = TempDir.create("graft-ckpt-")
    val outDir = TempDir.create("graft-out-")
    def sinkOf(b: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) =
      b.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("parquet").option("path", outDir.toString)
    try {
      Replay.writeChunk(chunkDir.toString, 0, docs)
      val q1 = sinkOf(StreamingQueries.ingestManifest(
        Replay.read[DocEvent](ss, chunkDir.toString)).writeStream).start()
      try q1.processAllAvailable() finally q1.stop()
      Replay.writeChunk(chunkDir.toString, 1, docs) // upstream retries
      val q2 = sinkOf(StreamingQueries.ingestManifest(
        Replay.read[DocEvent](ss, chunkDir.toString)).writeStream)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try require(q2.awaitTermination(120000), "AvailableNow did not drain")
      finally { if (q2.isActive) q2.stop() }
      val out = ss.read.parquet(outDir.toString)
        .select(col("doc_id")).collect().map(_.getLong(0))
      val want = Tables.documents(ss, sf)
        .filter(graft.functions.TextFunctions.stopwordRatio(col("text")) >= 0.05)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(out.length == out.distinct.length,
        "trigger-mode switch re-emitted rows")
      assert(out.toSet == want)
    } finally {
      TempDir.deleteRecursively(chunkDir.toString)
      TempDir.deleteRecursively(ckpt.toString)
      TempDir.deleteRecursively(outDir.toString)
      StateStoreBridge.unloadAll()
    }
  }
}

package graft

import graft.queries.StreamingQueries
import graft.streaming.{DocEvent, Replay, KeyedUpsertSink, TempDir}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/** The at-least-once-WRITER half of the O14 sink contract
  * (reference `sinks/ElasticsearchUpsertSink.scala:68-81`): the sink
  * keeps its keyed-idempotent promise when the failure happens inside
  * the sink write itself — `KeyedUpsertSinkSpec` hand-delivers a
  * duplicate batchId, this spec makes SPARK deliver it, through the
  * real recovery machinery: a checkpointed Update-mode query whose
  * `foreachBatch` APPENDS the micro-batch to the upsert log and THEN
  * dies (the worst case — the external store already holds the
  * batch's rows when the writer is declared failed), the query
  * terminates with `StreamingQueryException`, and a restarted
  * incarnation replays the same batchId from the offset log over
  * restored aggregation state. Convergence to the batch oracle after
  * that — duplicate appends folding away under last-write-wins — is
  * exactly the retry story a flaky network sink needs at 100 TB,
  * where a multi-day ingest WILL lose a writer mid-flush.
  */
class SinkRetrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("sink write fails after append; restart replays the batchId; state converges") {
    val ss = StreamingQueries.streamSession(spark)
    val docs = Tables.documents(ss, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .collect().map(r => DocEvent(r.getLong(0),
        1_700_000_000_000L + r.getLong(0) * 100L, r.getString(1), r.getString(2)))
      .toSeq.sortBy(_.docId)
    val (half1, half2) = docs.splitAt(docs.size / 2)

    val chunkDir = TempDir.create("graft-retry-chunks-")
    val ckpt = TempDir.create("graft-retry-ckpt-")
    val logDir = TempDir.create("graft-retry-log-")
    java.nio.file.Files.delete(logDir) // parquet append wants it absent
    val sink = new KeyedUpsertSink(Seq("source"), logDir.toString)

    // driver-side fault injector: foreachBatch runs on the driver, so
    // plain shared state sees every attempt; records attempts per
    // batchId and throws on batch 1's FIRST delivery only
    val attempts = scala.collection.mutable.Map.empty[Long, Int]
    def pipeline = Replay.read[DocEvent](ss, chunkDir.toString)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("n_chars"))
    def run(): Unit = {
      val q = pipeline.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          attempts.synchronized { attempts(batchId) = attempts.getOrElse(batchId, 0) + 1 }
          sink.upsert(batch, batchId) // the append LANDS...
          if (batchId == 1L && attempts.synchronized(attempts(1L)) == 1)
            throw new RuntimeException("injected sink failure after append")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    try {
      Replay.writeChunk(chunkDir.toString, 0, half1)
      run() // incarnation 1: batch 0 commits
      Replay.writeChunk(chunkDir.toString, 1, half2)
      val e = intercept[StreamingQueryException](run()) // batch 1 dies mid-write
      assert(e.getMessage.contains("injected sink failure"), e.getMessage)
      assert(attempts.synchronized(attempts(1L)) == 1, "injector must have fired on first delivery")
      // the failed batch's rows are ALREADY in the external store —
      // the partial-write state a real network sink is left in
      assert(ss.read.parquet(logDir.toString)
        .filter(col("_batch_id") === 1L).count() > 0,
        "spec is vacuous unless the failed attempt's append landed")

      run() // incarnation 2: Spark re-delivers batchId 1 from the offset log
      assert(attempts.synchronized(attempts(1L)) == 2,
        "restart must replay the SAME batchId through foreachBatch")

      // convergence: last-write-wins over the doubled batch-1 append
      // equals the batch oracle over the full corpus
      val got = sink.toDF(ss).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = Tables.documents(ss, sf)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("n_chars"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == want, s"sink state diverged from batch oracle:\n$got\nvs\n$want")
    } finally {
      sink.close()
      TempDir.deleteRecursively(chunkDir.toString)
      TempDir.deleteRecursively(ckpt.toString)
      StateStoreBridge.unloadAll()
    }
  }
}

package graft

import scala.collection.mutable

import graft.queries.StreamingQueries
import graft.streaming.{KeyedUpsertSink, RideEvent, TaxiPipelines, TaxiReplay, TempDir}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.scalatest.funsuite.AnyFunSuite

/** `TaxiReplay.memoryStream` plans `spark.sql.shuffle.partitions`
  * input partitions per micro-batch, however many `addData` calls the
  * batch spans — a plain `MemoryStream` plans one per call, so a paced
  * feed of 20 ticks per trigger ran 20 scan tasks per batch.
  */
class MemoryStreamPartitionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("20 addData calls before one trigger scan in shuffle-partitions tasks; Update result equals batch") {
    val ss = StreamingQueries.streamSession(spark)
    val n = ss.conf.get("spark.sql.shuffle.partitions").toInt
    val rnd = new scala.util.Random(11)
    val rides = (0 until 2000).map(i => RideEvent(i.toLong, 1700000000000L + i * 50L,
      isStart = i % 2 == 0, -74.0 + rnd.nextDouble() * 0.2, 40.6 + rnd.nextDouble() * 0.3, 1 + i % 4))
    val served = TaxiReplay.servingOrder(rides, 60000L)
    val (ms, df) = TaxiReplay.memoryStream(ss)
    val ticks = served.grouped(math.max(1, served.size / 20)).toSeq.take(20)
    assert(ticks.size == 20)
    ticks.foreach(ms.addData(_))

    // (job group, tasks of the scan stage — the stage without parents)
    // of every job; the stream thread tags its jobs with the run id
    val scans = mutable.ArrayBuffer.empty[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = scans.synchronized {
        scans ++= e.stageInfos.filter(_.parentIds.isEmpty)
          .map(s => String.valueOf(e.properties.getProperty("spark.jobGroup.id")) -> s.numTasks)
      }
    }
    val sink = new KeyedUpsertSink(Seq("cell"))
    val ckpt = TempDir.create("graft-ms-parts-ckpt-")
    spark.sparkContext.addSparkListener(listener)
    val q = TaxiPipelines.totalArrivalCount(df)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch((batch: DataFrame, id: Long) => sink.upsert(batch, id))
      .start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 1, "all 20 ticks in one micro-batch")
      // listener events arrive asynchronously
      def scanTasks = scans.synchronized(scans.toSeq).collect { case (g, t) if g == q.runId.toString => t }
      val deadline = System.nanoTime() + 10000000000L
      while (scanTasks.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(scanTasks == Seq(n), s"scan stage must run $n tasks, ran $scanTasks")

      val cols = Seq("cell", "last_t_ms", "cnt", "center_lon", "center_lat")
      def key(r: Row): String = cols.map(c => String.valueOf(r.get(r.fieldIndex(c)))).mkString("|")
      import ss.implicits._
      val expected = TaxiPipelines.totalArrivalCount(
        ss.createDataset(ticks.flatten).toDF().withColumn("ts", timestamp_millis(col("tMs"))))
        .collect().map(key).sorted.toSeq
      val got = sink.toDF(ss).collect().map(key).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == expected)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
      sink.close()
      TempDir.deleteRecursively(ckpt.toString)
      StateStoreBridge.unloadQuery(q.runId)
    }
  }
}

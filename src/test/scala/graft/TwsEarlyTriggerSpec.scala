package graft

import graft.streaming.{CellEvent, EarlyTriggerBlobProcessor, TaxiPipelines, TempDir}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the flush split the latest-pane timer design rests on
  * (TwsEarlyTrigger.scala): a key STILL RECEIVING data gets its
  * ripening finals from the data-batch purge, and a key that GOES
  * QUIET gets its remaining finals from the per-key event-time timer
  * — the one case the data path cannot reach, and the case the
  * earliest-pane → latest-pane re-arming change must not lose. The
  * oracle entry (`taxi_early_tws`) checks the converged fire set;
  * this spec isolates the quiet-key path specifically: cell 1's
  * finals can ONLY have come from `handleExpiredTimer`, because
  * cell 1 never appears in a micro-batch after its data batch.
  */
class TwsEarlyTriggerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("[blob] quiet key flushes finals via timer; active key via data-batch purge") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = ss.sqlContext

    val T1 = 1_700_000_000_000L
    val T2 = T1 + 7_200_000L // 2 h: watermark T2 ripens every T1 pane
    val T3 = T2 + 7_200_000L
    val ms = MemoryStream[(Int, Long, Long, Int)] // cell, rideId, tMs, passengers
    val name = "twsearly" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = TempDir.create("graft-twsspec-")
    val q = ms.toDF().toDF("cell", "rideId", "tMs", "passengers")
      .select(col("cell"), col("rideId"),
        timestamp_millis(col("tMs")).as("ts"), col("passengers"))
      .withWatermark("ts", "0 seconds")
      .as[CellEvent]
      .groupByKey(_.cell)
      .transformWithState(new EarlyTriggerBlobProcessor(5),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .format("memory").queryName(name).start()
    try {
      // batch 1: cell 1 crosses the threshold (3 + 4 = 7 >= 5 -> one
      // early fire per pane); cell 2 stays under it. After this batch
      // cell 1 NEVER appears again.
      ms.addData(Seq((1, 10L, T1, 3), (1, 11L, T1, 4), (2, 20L, T1, 2)))
      q.processAllAvailable()
      ms.addData(Seq((2, 21L, T2, 1))) // wm -> T1 during this batch
      q.processAllAvailable()
      ms.addData(Seq((2, 22L, T3, 1))) // wm -> T2: every T1 pane ripe
      q.processAllAvailable()

      val rows = ss.table(name).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      val panesT1 = TaxiPipelines.windowEndsFor(T1).toSet
      // cell 1 early fires: one per T1 pane at the crossing sum 7
      val early1 = rows.filter(r => r._1 == 1 && !r._4)
      assert(early1.map(_._2).toSet == panesT1 && early1.forall(_._3 == 7L),
        s"cell 1 early fires wrong: ${early1.toSeq}")
      // cell 1 finals: TIMER-ONLY path (no data batch could emit them)
      val fin1 = rows.filter(r => r._1 == 1 && r._4)
      assert(fin1.map(_._2).toSet == panesT1 && fin1.forall(_._3 == 7L),
        s"quiet key's timer flush lost finals: ${fin1.toSeq}")
      // cell 2's T1 finals: data-batch purge path, sum 2, no early fire
      val fin2 = rows.filter(r => r._1 == 2 && r._4 && panesT1.contains(r._2))
      assert(fin2.map(_._2).toSet == panesT1 && fin2.forall(_._3 == 2L),
        s"active key's data-batch purge finals wrong: ${fin2.toSeq}")
      assert(!rows.exists(r => r._1 == 2 && !r._4), "cell 2 must never early-fire")
    } finally {
      q.stop()
      TempDir.deleteRecursively(ckpt.toString)
      StateStoreBridge.unloadAll()
    }
  }
}

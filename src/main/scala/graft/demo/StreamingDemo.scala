package graft.demo

import graft.streaming._
import org.apache.spark.sql.functions._

/** Live-replay demo mains — the reference's three applications
  * (`examples/TotalArrivalCount.scala`, `SlidingArrivalCount.scala`,
  * `EarlyArrivalCount.scala`) driven the way the reference drives
  * them: wall-clock-paced replay at a speed factor (600× in the
  * reference, `TotalArrivalCount.scala:47`) with out-of-order
  * delivery, results printed to the console sink (O13).
  *
  *   sbt "runMain graft.demo.StreamingDemo total|sliding|early [speedFactor]"
  *
  * Uses the driver's events-derived rides at sf0.001; point
  * `TaxiCsvDemo` at a real rides CSV for the file-based batch path.
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("total")
    val speed = if (args.length > 1) args(1).toDouble else 600.0
    val spark = graft.Session()
    import spark.implicits._

    // Live monitoring — the reference's demo environment enables the
    // Flink web dashboard (`utils/DemoStreamEnvironment.scala:28-30`);
    // the counterpart here is the LiveOps listener + embedded HTTP
    // endpoint: open the printed URL while the replay runs.
    val liveOps = LiveOps.attach(spark)
    val liveServer = liveOps.serve(
      sys.env.get("GRAFT_LIVEOPS_PORT").map(_.toInt).getOrElse(0))
    println(s"[demo] live ops: http://127.0.0.1:${liveServer.getAddress.getPort}/")

    val rides = TaxiReplay.ridesFromEvents(spark, "/root/testdata/sf0.001").collect().toSeq
    val serving = TaxiReplay.servingOrder(rides, maxDelayMs = 60000L)

    // file mode: CSV file-drop ingress (one chunk per micro-batch)
    // instead of the paced MemoryStream
    if (mode == "file") {
      val (stream, chunkDir) = TaxiReplay.fileStream(spark,
        serving.map(e => e.copy(tMs = e.tMs - e.tMs % 1000)), nChunks = 5)
      Replay.run(TaxiPipelines.totalArrivalCount(stream)
          .writeStream.outputMode("update")
          .format("console").option("numRows", "10").option("truncate", "false"),
        dirs = Seq(chunkDir))((q, _) => q.processAllAvailable())
      liveServer.stop(0)
      spark.stop()
      return
    }

    val (ms, df) = TaxiReplay.memoryStream(spark)

    val out = mode match {
      case "total" => TaxiPipelines.totalArrivalCount(df)
      case "sliding" => TaxiPipelines.slidingArrivalCount(df)
      case "early" =>
        TaxiPipelines.earlyArrivalCount(
          TaxiPipelines.cellEvents(df, "60 seconds").as[CellEvent],
          threshold = 50).toDF()
      case other => sys.error(s"unknown mode '$other' (total|sliding|early|file)")
    }
    val outputMode = if (mode == "total") "update" else "append"

    try Replay.run(out.writeStream
        .outputMode(outputMode)
        .format("console").option("numRows", "10").option("truncate", "false")) { (q, _) =>
      // Event time is compressed by `speed`: 10 event-hours/minute at 600×.
      TaxiReplay.replayPaced(ms, serving, speed)
      // End-of-stream flush: the reference emits a Long.MaxValue
      // watermark when the source ends so every open window fires; the
      // Structured Streaming equivalent is a far-future zero-passenger
      // sentinel advancing the watermark past all live panes.
      ms.addData(TaxiReplay.sentinelAfter(serving))
      q.processAllAvailable()
    } finally liveServer.stop(0)
    spark.stop()
  }
}

package graft.tools

import graft.{Bench, Session, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Measured physical cost of a named query — rows/bytes through the
  * shuffle system and bytes read from storage, straight from the task
  * metrics (not estimates): the evidence behind SCALE.md's "only X
  * crosses the exchange" claims. The query is materialized exactly
  * as `Bench` times it, so every output column is computed.
  *
  *   sbt "runMain graft.tools.CostReport <name> [sfDir]"
  */
object CostReport {
  private class Acc extends SparkListener {
    @volatile var shufWrite = 0L
    @volatile var shufWriteRecords = 0L
    @volatile var shufRead = 0L
    @volatile var inputBytes = 0L
    @volatile var inputRecords = 0L
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        shufWriteRecords += m.shuffleWriteMetrics.recordsWritten
        shufRead += m.shuffleReadMetrics.totalBytesRead
        inputBytes += m.inputMetrics.bytesRead
        inputRecords += m.inputMetrics.recordsRead
      }
    }
    def reset(): Unit = synchronized {
      shufWrite = 0L; shufWriteRecords = 0L; shufRead = 0L
      inputBytes = 0L; inputRecords = 0L
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session()
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    // warm the session so one-time init doesn't pollute the first row
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    names.foreach { name =>
      acc.reset()
      val n = Bench.materialize(SparkEntry.queries(name)(spark, sfDir))
      // listener events are delivered async; drain before reading
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      println(f"[cost] $name: out_rows=$n input=${acc.inputRecords}%,d rows" +
        f"/${acc.inputBytes / 1024}%,d KiB shuffle_write=${acc.shufWriteRecords}%,d rows" +
        f"/${acc.shufWrite / 1024}%,d KiB shuffle_read=${acc.shufRead / 1024}%,d KiB")
    }
    spark.stop()
  }
}

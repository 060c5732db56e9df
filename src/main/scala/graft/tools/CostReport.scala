package graft.tools

import graft.{Bench, Session, SparkEntry}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Time and measured physical cost of named queries: per rep, the wall
  * time and Spark jobs (AQE stage jobs included), the part of both
  * spent in the query function itself (`build_`), the output rows,
  * the rows/bytes through the shuffle system, read from storage and
  * spilled to disk, straight from the task metrics
  * (not estimates) — the evidence behind SCALE.md's "only X crosses the
  * exchange" claims. After `Session.warmUp`, each rep is materialized
  * exactly as `Bench` times it, so every output column is computed.
  *
  *   sbt "runMain graft.tools.CostReport <name>[,<name>...] [sfDir] [reps]"
  */
object CostReport {
  private class Acc extends SparkListener {
    @volatile var jobs = 0
    @volatile var shufWrite = 0L
    @volatile var shufWriteRecords = 0L
    @volatile var shufRead = 0L
    @volatile var inputBytes = 0L
    @volatile var inputRecords = 0L
    @volatile var spill = 0L
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        shufWriteRecords += m.shuffleWriteMetrics.recordsWritten
        shufRead += m.shuffleReadMetrics.totalBytesRead
        inputBytes += m.inputMetrics.bytesRead
        inputRecords += m.inputMetrics.recordsRead
        spill += m.diskBytesSpilled
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    def reset(): Unit = synchronized {
      jobs = 0
      shufWrite = 0L; shufWriteRecords = 0L; shufRead = 0L
      inputBytes = 0L; inputRecords = 0L; spill = 0L
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session()
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    // warm the session so one-time init doesn't pollute the first row
    Session.warmUp(spark, sfDir)
    for (name <- names; r <- 1 to reps) {
      acc.reset()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val buildSecs = (System.nanoTime() - t0) / 1e9
      // listener events are delivered async; drain before reading
      ListenerBridge.drain(spark.sparkContext)
      val buildJobs = acc.jobs
      val t1 = System.nanoTime()
      val n = Bench.materialize(df)
      val secs = buildSecs + (System.nanoTime() - t1) / 1e9
      ListenerBridge.drain(spark.sparkContext)
      println(f"[cost] $name rep$r: $secs%.3f s build_s=$buildSecs%.3f jobs=${acc.jobs} build_jobs=$buildJobs" +
        f" out_rows=$n input=${acc.inputRecords}%,d rows" +
        f"/${acc.inputBytes / 1024}%,d KiB shuffle_write=${acc.shufWriteRecords}%,d rows" +
        f"/${acc.shufWrite / 1024}%,d KiB shuffle_read=${acc.shufRead / 1024}%,d KiB spill=${acc.spill / 1024}%,d KiB")
    }
    spark.stop()
  }
}

package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits from the calling thread (the
  * thread is tagged with a local property, so jobs of other threads do
  * not count).
  */
object JobCount {
  private val Key = "graft.spec.jobTag"

  def during(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"job-count-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try body
    finally {
      sc.setLocalProperty(Key, null)
      ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}

package graft

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files

import graft.streaming.{LiveOps, TempDir}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Pins the live-monitoring surface (reference: the Flink web
  * dashboard at `utils/DemoStreamEnvironment.scala:28-30` and the
  * Kibana dashboards at `README.md:137-172`): the listener's view
  * must track batch progress while the query runs, the published
  * files must be atomic and current, the embedded HTTP endpoint must
  * serve the same JSON, and termination (clean or failed) must land
  * in the view with the error captured.
  */
class LiveOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def httpGet(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
    val code = conn.getResponseCode
    val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("listener view, atomic file publish, and HTTP endpoint track a live query through progress and termination") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    implicit val ctx: org.apache.spark.sql.SQLContext = ss.sqlContext
    import ss.implicits._

    val dir = TempDir.create("graft-liveops-")
    val ops = LiveOps.attach(ss, Some(dir))
    val server = ops.serve(0)
    val port = server.getAddress.getPort
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDF().toDF("k", "v").groupBy($"k").count()
      .writeStream.outputMode("update")
      .format("memory").queryName("liveops_probe")
      .start()
    try {
      ms.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
      ms.addData(("a", 3L)); q.processAllAvailable()
      // listener events are async; wait for batch 1 to reach the view
      val deadline = System.nanoTime() + 10_000_000_000L
      def view = ops.snapshot.get(q.id)
      while (view.forall(_.batchId < 1) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val v = view.getOrElse(fail("query never reached the live view"))
      assert(v.status == "running")
      assert(v.batchId >= 1, s"expected batch >= 1 in view, got ${v.batchId}")
      assert(v.stateRowsTotal == 2, "streaming agg holds 2 keys of state")

      // file publish: atomic, current, and parseable as one JSON object
      val published = Files.readString(dir.resolve("liveops.json"))
      assert(published.contains("\"liveops_probe\""))
      assert(published.contains("\"status\":\"running\""))
      val htmlFile = Files.readString(dir.resolve("liveops.html"))
      assert(htmlFile.contains("liveops_probe"))

      // HTTP endpoint serves the same view
      val (code, body) = httpGet(s"http://127.0.0.1:$port/liveops.json")
      assert(code == 200)
      assert(body.contains("\"liveops_probe\"") && body.contains("\"batchId\""))
      val (hCode, hBody) = httpGet(s"http://127.0.0.1:$port/")
      assert(hCode == 200 && hBody.contains("<table>"))

      // clean termination lands in the view
      q.stop()
      val tDeadline = System.nanoTime() + 10_000_000_000L
      while (ops.snapshot.get(q.id).exists(_.status == "running") &&
             System.nanoTime() < tDeadline) Thread.sleep(50)
      assert(ops.snapshot(q.id).status == "terminated")
      assert(ops.snapshot(q.id).error.isEmpty)
      assert(Files.readString(dir.resolve("liveops.json"))
        .contains("\"status\":\"terminated\""))
    } finally {
      if (q.isActive) q.stop()
      server.stop(0)
      ss.streams.removeListener(ops)
      TempDir.deleteRecursively(dir.toString)
    }
  }

  test("a failing query surfaces status=failed with the error in the view") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    implicit val ctx: org.apache.spark.sql.SQLContext = ss.sqlContext
    import ss.implicits._
    import org.apache.spark.sql.functions._

    val ops = LiveOps.attach(ss, None)
    val ms = MemoryStream[Long]
    val ckpt = TempDir.create("graft-livefail-").toString
    val q = ms.toDF().toDF("v")
      .select(when(col("v") === 1L, raise_error(lit("boom")))
        .otherwise(col("v")).as("checked"))
      .writeStream.outputMode("append")
      .format("memory").queryName("liveops_fail")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      ms.addData(1L)
      intercept[Exception] { q.processAllAvailable() }
      val deadline = System.nanoTime() + 10_000_000_000L
      while (ops.snapshot.get(q.id).forall(_.status == "running") &&
             System.nanoTime() < deadline) Thread.sleep(50)
      val v = ops.snapshot.get(q.id)
      assert(v.exists(_.status == "failed"), s"expected failed view, got $v")
      assert(v.exists(_.error.exists(_.nonEmpty)), "error text must be captured")
      assert(ops.json.contains("\"error\""))
    } finally {
      if (q.isActive) q.stop()
      ss.streams.removeListener(ops)
      TempDir.deleteRecursively(ckpt)
    }
  }
}

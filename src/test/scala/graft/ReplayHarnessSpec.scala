package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.queries.StreamingQueries
import graft.streaming.{Ev, KeyedUpsertSink, Replay, TempDir}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The lifecycle contract of [[Replay.run]]: whatever fails — the
  * query's start or the caller's body — the query is stopped, its
  * checkpoint and every dir and sink handed to the run are deleted
  * (tmpfs is RAM, see [[TempDir]]), and only that run's state-store
  * providers are unloaded.
  *
  * The last case is a source scan that keeps the lifecycle in one
  * place: it reads every `.scala` file under
  * `src/main/scala/graft/queries` (relative to the build root, where
  * the forked test JVM runs) and fails on any line that contains
  * `"checkpointLocation"`, `maxFilesPerTrigger`,
  * `TempDir.create("graft-ckpt-")` or `StateStoreBridge.unloadQuery`,
  * naming file and line. A query that needs any of these goes through
  * [[Replay]] instead.
  */
class ReplayHarnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val evs = (0 until 20).map(i =>
    Ev(i % 3, i, 1700000000000L + i * 1000L, if (i % 2 == 0) "view" else "click", i.toDouble))

  private def gone(path: String): Boolean = !Files.exists(Paths.get(path))

  test("a query rejected at start propagates its error and leaves no dir behind") {
    val ss = StreamingQueries.streamSession(spark)
    val dir = Replay.write(evs, 2)
    val owned = TempDir.create("graft-harness-").toString
    val sinkDir = TempDir.create("graft-harness-sink-").toString
    val sink = new KeyedUpsertSink(Seq("etype"), sinkDir)
    var ckpt: String = null
    // Append over an aggregate with no watermark: Spark rejects it
    // when the query starts
    intercept[AnalysisException] {
      Replay.runStarting(c => {
        ckpt = c
        Replay.read[Ev](ss, dir).groupBy(col("etype")).count()
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", c).start()
      }, dirs = Seq(dir, owned), sinks = Seq(sink))((_, _) => fail("the body must not run"))
    }
    assert(ckpt != null, "the checkpoint is created before the start")
    assert(gone(ckpt), s"checkpoint $ckpt leaked")
    Seq(dir, owned, sinkDir).foreach(d => assert(gone(d), s"$d leaked"))
    assert(ss.streams.active.isEmpty)
  }

  test("a throwing body still stops the query and unloads its state") {
    val ss = StreamingQueries.streamSession(spark)
    val dir = Replay.write(evs, 2)
    var q: StreamingQuery = null
    var ckpt: String = null
    var loaded = 0
    val e = intercept[IllegalStateException] {
      Replay.run(Replay.read[Ev](ss, dir).groupBy(col("etype")).count()
          .writeStream.outputMode("update").format("noop"),
        dirs = Seq(dir)) { (query, c) =>
        q = query
        ckpt = c
        query.processAllAvailable()
        loaded = StateStoreBridge.loadedCountForQuery(query.runId)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(loaded > 0, "the aggregation must have loaded state before the body threw")
    assert(!q.isActive)
    assert(StateStoreBridge.loadedCountForQuery(q.runId) == 0)
    assert(gone(ckpt) && gone(dir))
    assert(ss.streams.active.isEmpty)
  }

  test("no query spells its own checkpoint lifecycle or chunk reader") {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    assert(files.exists(_.getFileName.toString == "StreamingQueries.scala"))
    val banned = Seq("\"checkpointLocation\"", "maxFilesPerTrigger",
      "TempDir.create(\"graft-ckpt-\")", "StateStoreBridge.unloadQuery")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

package graft

import graft.queries.StreamingQueries
import org.scalatest.funsuite.AnyFunSuite

/** The streaming replay configuration is fixed in code: `streamSession`
  * and `forceRocksdb` are the only path every replay entry and the
  * benchmark take, so their settings are pinned here, next to the
  * batch settings of [[graft.Session]].
  */
class StreamSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streamSession sets its replay configuration on an isolated session") {
    val ss = StreamingQueries.streamSession(spark)
    assert(ss ne spark)
    assert(ss.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(ss.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    assert(ss.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    assert(ss.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      "org.apache.spark.sql.graftbridge.NioCheckpointFileManager")
    assert(ss.conf.get("spark.sql.streaming.pollingDelay") == "1ms")
    assert(ss.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "false")
  }

  test("forceRocksdb switches to RocksDB with changelog checkpointing on and row tracking off") {
    val ss = StreamingQueries.streamSession(spark)
    StreamingQueries.forceRocksdb(ss)
    assert(ss.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(ss.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
    assert(ss.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows") == "false")
  }

  test("Session sets UTC, shuffle partitions = cpus and the UI off") {
    assert(Session.settings("spark.sql.session.timeZone") == "UTC")
    assert(Session.settings("spark.sql.shuffle.partitions") == Session.cpus.toString)
    assert(Session.settings("spark.ui.enabled") == "false")
  }
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.sources.MemorySink
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Start a streaming query under a CALLER-SUPPLIED trigger clock —
  * the virtual-processing-time seam (same extension-library pattern
  * as [[ColumnBridge]]/[[StateStoreBridge]]: the hook exists in
  * `StreamingQueryManager.startQuery` as a `private[sql]` parameter,
  * `DataStreamWriter.start` just never exposes it).
  *
  * Why it exists: every processing-time-dependent state lever —
  * `TTLConfig` eviction above all — keys off the micro-batch's
  * `batchTimestampMs`, which `MicroBatchExecution` stamps from the
  * trigger clock. Under the default `SystemClock` that makes TTL
  * behavior a function of WALL TIME, testable only with sleeps and
  * never oracle-checkable. With an
  * [[org.apache.spark.util.ManualClock]] advanced by the replay
  * harness between feeds, eviction timing becomes a deterministic
  * function of the DATA (each batch's virtual timestamp derives from
  * its event times), so a DuckDB oracle can compute the exact fold a
  * TTL'd state must converge to (`events_ttl_stream`). This is the
  * streaming analogue of the replay sources' deadline pacing: the
  * harness owns time.
  *
  * The query writes to the caller's [[MemorySink]] (the
  * collected-output sink `format("memory")` uses underneath), so the
  * caller reads converged rows without a registered table name. `Trigger.ProcessingTime(0)` executes continuously
  * without consulting the clock for WAITING — the clock's only role
  * is the per-batch timestamp stamp, which is exactly the
  * determinism the caller wants.
  */
object ClockBridge {
  /** Harness handle over [[org.apache.spark.util.ManualClock]], which
    * is `private[spark]` — library code outside the shim can hold and
    * advance the clock without naming the hidden type.
    */
  final class VirtualClock private[graftbridge] (
      private[graftbridge] val underlying: org.apache.spark.util.ManualClock) {
    def setTime(ms: Long): Unit = underlying.setTime(ms)
    def timeMs: Long = underlying.getTimeMillis()
  }

  def virtualClock(startMs: Long): VirtualClock =
    new VirtualClock(new org.apache.spark.util.ManualClock(startMs))

  def startWithClock(
      df: DataFrame,
      outputMode: OutputMode,
      checkpointLocation: String,
      clock: VirtualClock,
      sink: MemorySink,
      queryName: Option[String] = None): StreamingQuery = {
    val cds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    cds.sparkSession.streams.startQuery(
      queryName,
      Some(checkpointLocation),
      cds,
      Map.empty[String, String],
      sink,
      outputMode,
      useTempCheckpointLocation = false,
      recoverFromCheckpointLocation = true,
      trigger = Trigger.ProcessingTime(0),
      triggerClock = clock.underlying,
      catalogAndIdent = None,
      catalogTable = None)
  }
}

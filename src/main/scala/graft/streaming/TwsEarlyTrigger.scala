package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-pane trigger counters: total passenger sum and the sum since
  * the last early fire (the reference trigger's per-pane
  * `ReducingState` count, `examples/EarlyArrivalCount.scala:117-160`).
  */
final case class PaneCounters(sum: Long, sinceFire: Long)

/** O11's early-firing count trigger on the NEW arbitrary-state API
  * (`transformWithState`) — the pane state machine of
  * [[TaxiPipelines.earlyTriggerFn]] re-expressed on the primitives
  * Spark is consolidating stateful streaming on: a keyed map of live
  * panes (windowEnd → counters) plus event-time timers driving the
  * watermark-final fire-and-purge. Registered as `taxi_early_tws`.
  *
  * The pane map is ONE ValueState blob (kryo-encoded
  * `Map[Long, PaneCounters]`), not per-pane MapState cells: the
  * replay's batches touch most live panes per key, where one serde
  * round-trip beats two point-ops per touched pane (4.7 vs 6.2 s
  * best-of-2, SCALE.md "Pane-state layout A/B: MapState vs
  * ValueState blob"). Per-pane MapState would win only when a batch
  * touches a pane or two of many live ones.
  *
  * Semantics are IDENTICAL to the fMGWS form — same (tMs, rideId)
  * batch determinization, same FIRE (emit current sum, keep
  * contents, reset since-fire) / FIRE_AND_PURGE (watermark passes the
  * pane end) split, same late-pane drop — so the complete early-fire
  * sequence under ordered replay is pinned by the same recursive-CTE
  * oracle as `taxi_early_fires` (TaxiQueries.earlyFiresSql).
  *
  * Exactly one live timer per key, armed at the LATEST live pane end.
  * Every data batch purges the panes the watermark has passed, so a
  * key that keeps receiving data gets its ripening finals there and
  * its timer never fires. An earliest-pane timer would instead expire
  * for every key on every batch (the watermark passes the oldest pane
  * each time): ~13.7k expiries + deletes + re-registrations per batch,
  * 1.5–3 s of timerProcessingTimeMs, more than the state updates
  * themselves. The latest-pane timer catches exactly the one case the
  * data path cannot: the tail flush of a key that goes quiet. That is
  * sound because a pane past the watermark can never be updated again
  * (the wEnd > wm admission check), so firing a ripe pane's final in
  * a later batch emits the identical value.
  *
  * Re-arming excludes the timer that just fired: Spark's
  * handleTimerRows deletes it itself AFTER the callback returns, and
  * deleting it here too made Spark's own delete fail with a
  * per-firing "WARN TimerStateImpl: Failed to delete timer" (~72k
  * lines per bench run, OPTIMIZATION_r16.md §2) plus a redundant
  * RocksDB delete.
  */
class EarlyTriggerBlobProcessor(threshold: Int)
    extends StatefulProcessor[Int, CellEvent, WindowCount] {
  @transient private var panes: ValueState[Map[Long, PaneCounters]] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    panes = getHandle.getValueState("paneblob",
      Encoders.kryo[Map[Long, PaneCounters]], TTLConfig.NONE)

  override def handleInputRows(
      cell: Int,
      rows: Iterator[CellEvent],
      timers: TimerValues): Iterator[WindowCount] = {
    val wm = timers.getCurrentWatermarkInMs()
    val out = scala.collection.mutable.ListBuffer.empty[WindowCount]
    var m = if (panes.exists()) panes.get() else Map.empty[Long, PaneCounters]
    rows.toSeq.sortBy(e => (e.tMs, e.rideId)).foreach { e =>
      TaxiPipelines.windowEndsFor(e.tMs).foreach { wEnd =>
        if (wEnd > wm) {
          val cur = m.getOrElse(wEnd, PaneCounters(0L, 0L))
          val sum = cur.sum + e.passengers
          val since = cur.sinceFire + e.passengers
          if (since >= threshold) {
            out += WindowCount(cell, wEnd, sum, isFinal = false)
            m = m.updated(wEnd, PaneCounters(sum, 0L))
          } else m = m.updated(wEnd, PaneCounters(sum, since))
        }
      }
    }
    val (ripe, live) = m.partition(_._1 <= wm)
    ripe.toSeq.sortBy(_._1).foreach { case (wEnd, c) =>
      out += WindowCount(cell, wEnd, c.sum, isFinal = true)
    }
    if (live.isEmpty) panes.clear() else panes.update(live)
    val armed = getHandle.listTimers().toSeq
    val next = if (live.isEmpty) None else Some(live.keys.max)
    if (armed != next.toSeq) {
      armed.foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      next.foreach(getHandle.registerTimer)
    }
    out.iterator
  }

  override def handleExpiredTimer(
      cell: Int,
      timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[WindowCount] = {
    val wm = timers.getCurrentWatermarkInMs()
    val m = if (panes.exists()) panes.get() else Map.empty[Long, PaneCounters]
    val (ripe, live) = m.partition(_._1 <= wm)
    val fires = ripe.toSeq.sortBy(_._1).map { case (wEnd, c) =>
      WindowCount(cell, wEnd, c.sum, isFinal = true)
    }
    if (live.isEmpty) panes.clear() else panes.update(live)
    // the fired timer is deleted by Spark AFTER this callback — treat
    // it as already-gone (see the class scaladoc)
    val armed = getHandle.listTimers().toSeq
      .filterNot(t => t.asInstanceOf[Long] == expired.getExpiryTimeInMs())
    val next = if (live.isEmpty) None else Some(live.keys.max)
    if (armed != next.toSeq) {
      armed.foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      next.foreach(getHandle.registerTimer)
    }
    fires.iterator
  }
}

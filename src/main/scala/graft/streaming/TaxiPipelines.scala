package graft.streaming

import graft.geo.NycGeo
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's three streaming pipelines on Structured Streaming.
  *
  * All three share the prefix: watermark → END-filter → NYC bbox →
  * grid-cell projection (reference O2-O7). The watermark is declared
  * *before* the filters so any event — even one the bbox filter drops —
  * advances event time, mirroring the reference where watermarks are a
  * property of the source, not of the filtered stream
  * (`sources/TaxiRideSource.scala:139-163`).
  */
object TaxiPipelines {

  val WindowSizeMs: Long = 15 * 60 * 1000L
  val WindowSlideMs: Long = 5 * 60 * 1000L

  /** Shared pipeline prefix. `stream` needs columns
    * (rideId, ts: timestamp, isStart, lon, lat, passengers).
    */
  def cellEvents(stream: DataFrame, watermarkDelay: String): DataFrame =
    cellProject(stream.withWatermark("ts", watermarkDelay))

  /** `cellEvents` without the watermark declaration — for pipelines
    * whose upstream (e.g. streaming dedup) already declared one: Spark
    * disallows redefining a watermark on the same stream.
    */
  def cellProject(stream: DataFrame): DataFrame =
    stream
      .filter(!col("isStart"))
      .filter(NycGeo.isInNYC(col("lon"), col("lat")))
      .select(
        NycGeo.gridCell(col("lon"), col("lat")).as("cell"),
        col("rideId"),
        col("ts"),
        col("passengers"))

  /** O9 TotalArrivalCount: running per-cell totals, unbounded keyed
    * state, Update output mode. Spark emits per micro-batch rather than
    * per record; the keyed idempotent upsert sink (O14) makes the two
    * observationally equivalent (SURVEY.md §7 decision log).
    */
  def totalArrivalCount(stream: DataFrame, watermarkDelay: String = "60 seconds"): DataFrame =
    cellEvents(stream, watermarkDelay)
      .groupBy(col("cell"))
      .agg(max(unix_millis(col("ts"))).as("last_t_ms"), sum(col("passengers")).as("cnt"))
      .select(
        col("cell"), col("last_t_ms"), col("cnt"),
        NycGeo.cellCenterLon(col("cell")).as("center_lon"),
        NycGeo.cellCenterLat(col("cell")).as("center_lat"))

  /** O10 SlidingArrivalCount: 15-min/5-min sliding event-time window,
    * Append mode — one row per (window, cell) when the watermark passes
    * window end, exactly Flink's default event-time trigger.
    */
  def slidingArrivalCount(stream: DataFrame, watermarkDelay: String = "60 seconds"): DataFrame =
    slidingAgg(cellEvents(stream, watermarkDelay))

  /** The 15/5 sliding aggregation over already-projected (and
    * already-watermarked) cell events.
    */
  def slidingAgg(cells: DataFrame): DataFrame =
    cells
      .groupBy(window(col("ts"), "15 minutes", "5 minutes"), col("cell"))
      .agg(sum(col("passengers")).as("cnt"))
      .select(
        col("cell"),
        unix_millis(col("window.end")).as("w_end_ms"),
        col("cnt"),
        NycGeo.cellCenterLon(col("cell")).as("center_lon"),
        NycGeo.cellCenterLat(col("cell")).as("center_lat"))

  /** Stream-stream ride-duration interval join: START and END events
    * of a ride meet on pair_id within a ±1 h event-time bound. Both
    * sides carry the watermark; the time-range condition is the
    * state-expiry contract — without it stream-stream join state
    * grows forever (the 100 TB failure mode). The ONE definition of
    * this pipeline: the oracle query (`taxi_duration_stream`) and the
    * bench warm-up both build it here, so the warmed plan IS the
    * shipped plan.
    */
  def rideDurationJoin(stream: DataFrame, watermarkDelay: String = "60 seconds"): DataFrame = {
    val wm = stream.withWatermark("ts", watermarkDelay)
    val starts = wm.filter(col("isStart"))
      .select(expr("rideId div 2").as("pair_s"), col("ts").as("ts_start"))
    val ends = wm.filter(!col("isStart"))
      .select(expr("rideId div 2").as("pair_e"), col("ts").as("ts_end"))
    starts.join(ends,
        col("pair_s") === col("pair_e") &&
          col("ts_end").between(
            col("ts_start") - expr("INTERVAL 1 HOUR"),
            col("ts_start") + expr("INTERVAL 1 HOUR")))
      .select(col("pair_s").as("pair_id"),
        unix_millis(col("ts_start")).as("t_start"),
        unix_millis(col("ts_end")).as("t_end"),
        (unix_millis(col("ts_end")) - unix_millis(col("ts_start"))).as("duration_ms"))
  }

  /** The 3 sliding panes (as window-end millis) containing event time
    * `tMs` — what Flink's `SlidingEventTimeWindows.assignWindows` does
    * for 15/5 windows.
    */
  def windowEndsFor(tMs: Long): Seq[Long] = {
    val bucketStart = tMs - Math.floorMod(tMs, WindowSlideMs)
    (1L to (WindowSizeMs / WindowSlideMs)).map(k => bucketStart + k * WindowSlideMs)
  }

  /** O11 EarlyArrivalCount: sliding window with an early-firing count
    * trigger — the reference's `EarlyCountTrigger`
    * (`examples/EarlyArrivalCount.scala:117-160`) as a
    * `flatMapGroupsWithState` state machine.
    *
    * Per (cell, window) pane we track (totalCnt, cntSinceLastFire):
    *  - each event adds its passenger count to every pane it falls in;
    *  - when cntSinceLastFire ≥ threshold → emit the pane's *full
    *    current sum* (Flink `FIRE`: window contents are not purged,
    *    `:133-141`) and reset the since-fire counter;
    *  - when the watermark passes a pane's window end → emit the final
    *    sum and purge the pane (`FIRE_AND_PURGE`, `:144-151`).
    *
    * State is keyed by cell, holding a map windowEnd → counters; panes
    * are purged on final fire, so state size per key is bounded by
    * (windowSize/slide) live panes — same bound as the reference's
    * per-pane trigger state.
    */
  def earlyArrivalCount(
      events: Dataset[CellEvent],
      threshold: Int): Dataset[WindowCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.cell)
      .flatMapGroupsWithState[Map[Long, (Long, Long)], WindowCount](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        earlyTriggerFn(threshold))
  }

  /** O9's *faithful per-event emission* in streaming: one output row
    * per input event carrying the running per-cell total — what the
    * reference's fold emits per record (`TotalArrivalCount.scala:75-80`).
    *
    * The reference folds in arrival order; under out-of-order delivery
    * that makes the intermediate counts nondeterministic (only the
    * final state is stable). We strengthen the contract to *event-time
    * order*: events buffer in state until the watermark passes them,
    * then flush in (time, rideId) order through the running sum — so
    * the full emitted sequence is deterministic and equals the batch
    * window-function form on any arrival order. State per key is
    * bounded by the watermark delay (only not-yet-flushable events are
    * buffered).
    */
  def runningCountPerEvent(events: Dataset[CellEvent]): Dataset[RunningCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.cell)
      .flatMapGroupsWithState[RunningState, RunningCount](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(runningFoldFn)
  }

  /** Per-key transition for the ordered running fold. Public for
    * direct unit testing.
    */
  def runningFoldFn(
      cell: Int,
      events: Iterator[CellEvent],
      state: GroupState[RunningState]): Iterator[RunningCount] = {
    val watermark = if (state.getCurrentWatermarkMs() > 0) state.getCurrentWatermarkMs() else Long.MinValue
    var st = state.getOption.getOrElse(RunningState(0L, Nil))
    // buffer new events (anything at/before the watermark is late — drop)
    events.foreach { e =>
      if (e.tMs > watermark)
        st = st.copy(pending = (e.tMs, e.rideId, e.passengers.toLong) :: st.pending)
    }
    // flush everything the watermark has passed, in (time, rideId) order
    val (ripe, keep) = st.pending.partition(_._1 <= watermark)
    val out = scala.collection.mutable.ListBuffer.empty[RunningCount]
    var sum = st.sum
    ripe.sortBy(e => (e._1, e._2)).foreach { case (t, id, p) =>
      sum += p
      out += RunningCount(cell, id, t, sum)
    }
    st = RunningState(sum, keep)
    state.update(st) // running sum persists even with nothing pending
    if (st.pending.nonEmpty) state.setTimeoutTimestamp(st.pending.map(_._1).min)
    out.iterator
  }

  /** The per-key state transition. Public for direct unit testing. */
  def earlyTriggerFn(threshold: Int)(
      cell: Int,
      events: Iterator[CellEvent],
      state: GroupState[Map[Long, (Long, Long)]]): Iterator[WindowCount] = {
    val watermark = if (state.getCurrentWatermarkMs() > 0) state.getCurrentWatermarkMs() else Long.MinValue
    val out = scala.collection.mutable.ListBuffer.empty[WindowCount]
    var panes = state.getOption.getOrElse(Map.empty[Long, (Long, Long)])

    // Process the batch's events in (time, rideId) order: the group
    // iterator's order is shuffle-dependent, which would make the fire
    // *values* nondeterministic. The reference processes in arrival
    // order single-threaded; batch-at-a-time Spark has no defined
    // arrival order within a batch, so event-time order is the natural
    // determinization (same contract strengthening as runningFoldFn).
    // Under ordered replay the full fire sequence is then a pure
    // function of the event data — driver-checked by taxi_early_fires.
    events.toSeq.sortBy(e => (e.tMs, e.rideId)).foreach { e =>
      windowEndsFor(e.tMs).foreach { wEnd =>
        if (wEnd > watermark) { // late panes are dropped (Flink 0.10 default)
          val (sum, since) = panes.getOrElse(wEnd, (0L, 0L))
          val newSum = sum + e.passengers
          val newSince = since + e.passengers
          if (newSince >= threshold) {
            out += WindowCount(cell, wEnd, newSum, isFinal = false)
            panes += wEnd -> ((newSum, 0L))
          } else {
            panes += wEnd -> ((newSum, newSince))
          }
        }
      }
    }

    // Final-fire + purge every pane the watermark has passed — in the
    // timeout path AND in data batches. A key receiving new data in
    // the same batch its old pane expires would otherwise keep the
    // expired pane and set a timeout at a timestamp ≤ the current
    // watermark, which GroupStateImpl rejects (killing the query).
    val (expired, live) = panes.partition { case (wEnd, _) => wEnd <= watermark }
    expired.toSeq.sortBy(_._1).foreach { case (wEnd, (sum, _)) =>
      out += WindowCount(cell, wEnd, sum, isFinal = true)
    }
    panes = live

    if (panes.isEmpty) state.remove()
    else {
      state.update(panes)
      // wake up when the watermark passes the earliest live pane
      // (strictly > watermark after the purge above)
      state.setTimeoutTimestamp(panes.keys.min)
    }
    out.iterator
  }
}

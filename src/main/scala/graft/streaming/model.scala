package graft.streaming

/** Typed event model for the streaming pipelines. `tMs` is event time
  * in epoch millis — the engine's canonical event-time unit
  * (reference: Flink event timestamps, `sources/TaxiRideSource.scala:116`).
  */
final case class RideEvent(
    rideId: Long,
    tMs: Long,
    isStart: Boolean,
    lon: Double,
    lat: Double,
    passengers: Int)

/** Post-filter, post-projection event: the reference's narrowed
  * `(cellId, time, passengerCnt)` tuple stream
  * (`examples/TotalArrivalCount.scala:70-73`). Keeps the watermarked
  * `ts` column — required for event-time timeouts downstream.
  */
final case class CellEvent(cell: Int, rideId: Long, ts: java.sql.Timestamp, passengers: Int) {
  def tMs: Long = ts.getTime
}

/** One per-event emission of the event-time-ordered running fold
  * (O9 faithful form): the running per-cell total as of this event.
  */
final case class RunningCount(cell: Int, rideId: Long, tMs: Long, runningCnt: Long)

/** State of the ordered running fold: the flushed running sum + the
  * buffer of (tMs, rideId, passengers) not yet passed by the watermark.
  */
final case class RunningState(sum: Long, pending: List[(Long, Long, Long)])

/** One `events`-table row for the generic event replay harness
  * (streaming sessionization).
  */
final case class UserEvent(userId: Long, tMs: Long, value: Double)

/** One replayed `events` row: the wire superset every events-table
  * stream reads (each pipeline projects the columns it needs, the
  * schema-on-read contract of a shared ingest topic). The pair-edge
  * stream `dedup_cc_stream` rides it too (userId = doc_a, eventId =
  * doc_b).
  */
final case class Ev(userId: Long, eventId: Long, tMs: Long, etype: String, value: Double)

/** One arriving delta vector for `embedding_ingest_stream`. */
final case class EmbeddingRow(vecId: Long, embedding: Array[Float])

/** One arriving media row for `multimodal_ingest_stream`; the payload
  * rides the text wire as base64.
  */
final case class MediaRow(mediaId: Long, kind: String, payload: Array[Byte])

/** One arriving document for the streaming curation front door
  * (`docs_ingest_stream`): the `documents` row plus a synthetic
  * arrival event time (docId-derived, deterministic).
  */
final case class DocEvent(docId: Long, tMs: Long, text: String, source: String)

/** Output of the windowed pipelines: count for one (cell, window) pane.
  * `isFinal` distinguishes the early-trigger's partial fires (Flink
  * `TriggerResult.FIRE`) from the watermark-driven final fire
  * (`FIRE_AND_PURGE`, `examples/EarlyArrivalCount.scala:144-151`).
  */
final case class WindowCount(cell: Int, wEndMs: Long, cnt: Long, isFinal: Boolean)

/** One funnel-relevant `events` row for the streaming funnel replay. */
final case class FunnelEvent(userId: Long, tMs: Long, etype: String)

/** Streaming funnel per-user state: stage timestamps (−1 = not yet
  * reached) + the buffer of (tMs, etype) the watermark has not passed.
  * `done` is the post-decision tombstone — the funnel is a per-user
  * LIFETIME query (stage 1 is the min view over all time), so a
  * decided user must be remembered or later events would start a
  * spurious second funnel; the tombstone is O(1) with no buffer and
  * no timeout.
  */
final case class FunnelState(
    t1: Long, t2: Long, t3: Long, pending: List[(Long, String)], done: Boolean)

/** Final funnel outcome for one user (equals the batch
  * `events_funnel` row).
  */
final case class FunnelResult(
    user_id: Long, reached: Int, t1_ms: Long, t2_ms: Option[Long], t3_ms: Option[Long])

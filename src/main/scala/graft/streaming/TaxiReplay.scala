package graft.streaming

import scala.util.Random

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Replay harness: re-creates the reference's event-time replay source
  * (`sources/TaxiRideSource.scala:53-263`) on Structured Streaming.
  *
  * The reference source is a single-threaded reader that (a) paces
  * emission at `servingStart + (eventTime − dataStart)/speedFactor`,
  * (b) optionally delays each event by a bounded Gaussian to simulate
  * out-of-order delivery (seeded, `:175`), and (c) emits watermarks no
  * event can violate. In Spark the three concerns split cleanly:
  *
  *  - *ordering/delay* → a deterministic pre-shuffle of the batch rows
  *    by `tMs + boundedGaussianDelay(seed)` (serving order);
  *  - *watermarks* → `withWatermark(ts, maxDelay)` downstream — the
  *    same no-drop bound as the reference's `t − maxDelay − 1`
  *    (`:195`, SURVEY.md §7 decision log);
  *  - *pacing* → the driver thread feeding `MemoryStream` batch-by-
  *    batch (unpaced in tests via `processAllAvailable`).
  *
  * MemoryStream collects rows on the driver, which is fine for the
  * replay *harness* (the reference source is equally single-node); the
  * production-scale streaming ingress is a file/Kafka source — the
  * file-drop feeds go through [[Replay]], and [[fileStream]] below is
  * the reference's CSV wire form on it.
  */
object TaxiReplay {

  /** Deterministic rides view over the driver's `events` table —
    * identical projection to `TaxiQueries.rides` (kept in sync by the
    * streaming-equivalence spec).
    */
  def ridesFromEvents(spark: SparkSession, sfDir: String): Dataset[RideEvent] = {
    import spark.implicits._
    Tables.events(spark, sfDir).select(
      col("event_id").as("rideId"),
      unix_millis(col("ts")).as("tMs"),
      (col("event_id") % 2 === 0).as("isStart"),
      (lit(-74.05) + (col("user_id") % 360) * lit(0.001)).as("lon"),
      (lit(40.5) + (col("event_id") % 520) * lit(0.001)).as("lat"),
      (col("event_id") % 4 + 1).cast("int").as("passengers"))
      .as[RideEvent]
  }

  /** Bounded-Gaussian serving delay in [0, maxDelayMs], σ = maxDelay/2
    * — the reference's out-of-order model
    * (`sources/TaxiRideSource.scala:270-277`, seed 7452 at `:175`).
    */
  def boundedGaussianDelay(rnd: Random, maxDelayMs: Long): Long = {
    if (maxDelayMs <= 0) return 0L
    var d = (rnd.nextGaussian() * (maxDelayMs / 2)).toLong
    while (d < 0 || d > maxDelayMs) d = (rnd.nextGaussian() * (maxDelayMs / 2)).toLong
    d
  }

  /** Serving order: sort by (tMs + delay) with rideId tiebreak. With
    * maxDelayMs = 0 this is the reference's ordered replay path
    * (`:97-168`); otherwise the unordered path (`:171-263`).
    */
  def servingOrder(events: Seq[RideEvent], maxDelayMs: Long, seed: Long = 7452L): Seq[RideEvent] = {
    val rnd = new Random(seed)
    events.sortBy(e => (e.tMs, e.rideId))
      .map(e => (e.tMs + boundedGaussianDelay(rnd, maxDelayMs), e.rideId, e))
      .sortBy(t => (t._1, t._2)).map(_._3)
  }

  /** The far-future zero-weight flush sentinel for Append-mode
    * replays (see StreamingQueries.appendReplay's contract): 2 h past
    * the last event, IN-bbox (it must survive the bbox filter to
    * reach the watermark operator), passengers = 0 (it can change no
    * sum), rideId = −1 (callers filter it; dedup keys collapse its
    * re-feed). All replay harness sites build the sentinel HERE —
    * its invariants are load-bearing and asserted at the flush site.
    */
  def sentinelAfter(events: Seq[RideEvent]): RideEvent = {
    val maxT = events.map(_.tMs).maxOption.getOrElse(0L)
    RideEvent(-1L, maxT + 7200000L, isStart = false, -74.0, 40.75, 0)
  }

  /** Feed `events` into a MemoryStream in `nBatches` micro-batches in
    * serving order; the watermark advances between batches exactly as
    * the reference's periodic watermarks advance with serving time.
    * Returns the stream handle + the streaming DataFrame (with a
    * proper event-time `ts` column) to build pipelines on.
    *
    * The stream plans `spark.sql.shuffle.partitions` input partitions
    * per micro-batch, however many `addData` calls the batch spans (a
    * plain `MemoryStream` plans one per call: 20 ticks per trigger
    * made 20 scan tasks for a few thousand rows).
    */
  def memoryStream(spark: SparkSession): (MemoryStream[RideEvent], DataFrame) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[RideEvent](spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val df = ms.toDF().withColumn("ts", timestamp_millis(col("tMs")))
    (ms, df)
  }

  def feedInBatches(
      ms: MemoryStream[RideEvent],
      events: Seq[RideEvent],
      nBatches: Int,
      process: () => Unit): Unit = {
    Replay.chunks(events, nBatches).foreach { batch =>
      ms.addData(batch)
      process()
    }
  }

  /** The reference's wire form on the [[Replay]] file feed: each ride
    * is one CSV line (`rideId,time,START|END,lon,lat,passengers,0.0`,
    * seconds resolution, so callers pre-truncate event times), read
    * back through `TaxiRide.parseCsv`. `gzip` writes the reference's
    * actual source form (a gzipped CSV file,
    * `sources/TaxiRideSource.scala:97-104`); Hadoop's text reader
    * decompresses by extension, so the parse path is unchanged.
    * Returns the parsed stream with the event-time `ts` column and the
    * chunk dir, which the caller deletes after the query stops.
    */
  def fileStream(
      spark: SparkSession,
      events: Seq[RideEvent],
      nChunks: Int,
      flushChunk: Seq[RideEvent] = Nil,
      gzip: Boolean = false): (DataFrame, String) = {
    import graft.model.TaxiRide
    val fmt = java.time.format.DateTimeFormatter.ofPattern(TaxiRide.TimePattern)
    // format in the SESSION timezone: parseCsv's to_timestamp parses in
    // spark.sql.session.timeZone, so writing hardcoded UTC would shift
    // every event time on non-UTC sessions
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val dir = Replay.writeLines(events, nChunks, flushChunk, gzip, ext = "csv") { e =>
      val t = java.time.Instant.ofEpochMilli(e.tMs).atZone(zone).format(fmt)
      s"${e.rideId},$t,${if (e.isStart) "START" else "END"},${e.lon},${e.lat},${e.passengers},0.0"
    }
    val parsed = TaxiRide.parseCsv(Replay.lines(spark, dir), "value")
      .select(
        col("rideId"),
        unix_millis(col("time")).as("tMs"),
        col("isStart"), col("lon"), col("lat"),
        col("passengerCnt").cast("int").as("passengers"))
      .withColumn("ts", timestamp_millis(col("tMs")))
    (parsed, dir)
  }

  /** Pacing for live demo replay (reference `toServingTime`,
    * `sources/TaxiRideSource.scala:265-268`): each batch is fed at its
    * ABSOLUTE wall deadline `wallStart + (interval + 1) · batchMs` —
    * deadline-based like the reference's servingTime arithmetic, not
    * sleep-per-batch, so (a) feed-side processing time doesn't
    * accumulate as drift across a long replay, and (b) an EMPTY
    * serving interval (a lull in the data) holds real wall silence
    * instead of being compressed away. The demo `main` drives it and
    * ReplayPacedSpec pins its wall pace. Returns per-batch lateness
    * (feed time − deadline, ms) so a caller can report serving-rate
    * fidelity.
    */
  def replayPaced(
      ms: MemoryStream[RideEvent],
      events: Seq[RideEvent],
      speedFactor: Double,
      batchMs: Long = 1000L): Seq[Double] = {
    val wallStart = System.nanoTime()
    pacedSchedule(events, speedFactor, batchMs).map { case (interval, batch) =>
      val deadline = wallStart + (interval + 1) * batchMs * 1000000L
      val sleepNs = deadline - System.nanoTime()
      if (sleepNs > 0) {
        val ms0 = sleepNs / 1000000L
        Thread.sleep(ms0, (sleepNs - ms0 * 1000000L).toInt)
      }
      ms.addData(batch)
      (System.nanoTime() - deadline) / 1e6
    }
  }

  /** The pure pacing schedule behind `replayPaced`: one batch per
    * `batchMs` wall interval, holding the events whose reference
    * serving time `(eventTime − dataStart) / speedFactor`
    * (`toServingTime`, `sources/TaxiRideSource.scala:265-268`) lands in
    * that interval; batches in serving order keyed by their interval
    * index (intervals with no events simply don't appear — the feed
    * honors the gap through the deadline arithmetic), each sorted by
    * (tMs, rideId). Split from the side-effecting feed so the
    * `toServingTime` binning is unit-assertable.
    */
  def pacedSchedule(
      events: Seq[RideEvent],
      speedFactor: Double,
      batchMs: Long): Seq[(Long, Seq[RideEvent])] = {
    if (events.isEmpty) return Nil
    val t0 = events.head.tMs
    val eventMsPerBatch = math.max(1L, (batchMs * speedFactor).toLong)
    events.groupBy(e => (e.tMs - t0) / eventMsPerBatch)
      .toSeq.sortBy(_._1)
      .map { case (i, b) => (i, b.sortBy(e => (e.tMs, e.rideId))) }
  }

  /** Interval-blind view of [[pacedSchedule]] (the binning pins in
    * ReplayPacedSpec read it).
    */
  def pacedBatches(
      events: Seq[RideEvent],
      speedFactor: Double,
      batchMs: Long): Seq[Seq[RideEvent]] =
    pacedSchedule(events, speedFactor, batchMs).map(_._2)
}

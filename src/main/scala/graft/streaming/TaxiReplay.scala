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
  * production-scale streaming ingress is a file/Kafka source — see
  * `FileStreamReplay` below for the file-based variant.
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
    val size = math.max(1, math.ceil(events.size.toDouble / nBatches).toInt)
    events.grouped(size).foreach { batch =>
      ms.addData(batch)
      process()
    }
  }

  /** File-based streaming replay: serving-ordered events written as
    * CSV chunk files (the reference's wire format, 2-events-per-ride
    * lines) consumed by `spark.readStream.csv` with
    * `maxFilesPerTrigger = 1` — one chunk per micro-batch. This is the
    * production-shaped ingress (file drops / object-store listing);
    * MemoryStream above is the low-latency test harness. Returns the
    * parsed streaming DataFrame with the event-time `ts` column plus
    * the chunk dir, which the caller must `TempDir.deleteRecursively`
    * after the query stops (the source reads the files lazily).
    */
  def fileStream(
      spark: SparkSession,
      events: Seq[RideEvent],
      nChunks: Int,
      flushChunk: Seq[RideEvent] = Nil,
      gzip: Boolean = false): (DataFrame, String) = {
    import graft.model.TaxiRide
    val dir = TempDir.create("graft-replay-")
    val chunkSize = math.max(1, math.ceil(events.size.toDouble / nChunks).toInt)
    val fmt = java.time.format.DateTimeFormatter.ofPattern(TaxiRide.TimePattern)
    // format in the SESSION timezone: parseCsv's to_timestamp parses in
    // spark.sql.session.timeZone, so writing hardcoded UTC would shift
    // every event time on non-UTC sessions
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    def writeChunk(chunk: Seq[RideEvent], i: Int): Unit = {
      val lines = chunk.map { e =>
        // the reference wire format is seconds-resolution (§1.2) —
        // callers must pre-truncate event times to seconds
        val t = java.time.Instant.ofEpochMilli(e.tMs).atZone(zone).format(fmt)
        s"${e.rideId},$t,${if (e.isStart) "START" else "END"},${e.lon},${e.lat},${e.passengers},0.0"
      }
      val bytes = lines.mkString("\n").getBytes("UTF-8")
      // gzip = the reference's ACTUAL wire form (a gzipped CSV file,
      // `sources/TaxiRideSource.scala:97-104`); Hadoop's text reader
      // decompresses by extension, so the parse path is unchanged.
      // One gz chunk = one micro-batch — non-splittability is moot.
      // Mod-time ordering contract: [[ReplayChunks]].
      val name = if (gzip) f"chunk-$i%05d.csv.gz" else f"chunk-$i%05d.csv"
      ReplayChunks.write(dir.toString, name, i, bytes, gzip)
    }
    val dataChunks = events.grouped(chunkSize).toVector
    dataChunks.zipWithIndex.foreach { case (chunk, i) => writeChunk(chunk, i) }
    // Optional trailing flush chunk — processed as one more data
    // micro-batch AFTER the last event chunk, applying the watermark
    // that chunk advanced (no-data micro-batches are disabled in the
    // replay sessions; see StreamingQueries.streamSession). Callers
    // pass the zero-weight sentinel here, same contract as
    // StreamingQueries.appendReplay's flush batch.
    if (flushChunk.nonEmpty) writeChunk(flushChunk, dataChunks.size)
    val raw = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .text(dir.toString)
    val parsed = TaxiRide.parseCsv(raw, "value")
      .select(
        col("rideId"),
        unix_millis(col("time")).as("tMs"),
        col("isStart"), col("lon"), col("lat"),
        col("passengerCnt").cast("int").as("passengers"))
      .withColumn("ts", timestamp_millis(col("tMs")))
    (parsed, dir.toString)
  }

  /** ms-exact gz JSONL replay ingress for the ride streams — the
    * file-drop twin of [[memoryStream]] (same columns, same
    * millisecond event-time semantics), where [[fileStream]] above is
    * the reference's seconds-resolution CSV wire. The stateful
    * pipelines whose oracles pin ms event times replay through this:
    * longs/booleans serialize exactly, doubles via `Double.toString`
    * (shortest round-tripping form), so `from_json`'s parse is
    * bit-exact. One gz chunk per micro-batch (mod-time ordering
    * contract: [[ReplayChunks]]); the optional trailing flush chunk is
    * processed as one more data micro-batch after the last event
    * chunk, applying the watermark that chunk advanced (no-data
    * micro-batches are disabled in the replay sessions). Caller must
    * delete the returned chunk dir after the query stops.
    */
  def jsonlFileStream(
      spark: SparkSession,
      events: Seq[RideEvent],
      nChunks: Int,
      flushChunk: Seq[RideEvent] = Nil): (DataFrame, String) = {
    val dir = writeJsonlChunks(events, nChunks, flushChunk)
    (openJsonlStream(spark, dir), dir)
  }

  /** Fixture half of [[jsonlFileStream]]: write the chunk files and
    * return the dir. Split out so callers that CACHE the fixture
    * (the write is pure in its inputs) can share one dir across many
    * independent readers.
    */
  def writeJsonlChunks(
      events: Seq[RideEvent],
      nChunks: Int,
      flushChunk: Seq[RideEvent] = Nil): String = {
    val dir = TempDir.create("graft-rides-")
    def writeChunk(chunk: Seq[RideEvent], i: Int): Unit =
      ReplayChunks.writeJsonlGz(dir.toString, f"rides-$i%05d.jsonl.gz", i,
        chunk.map(e => s"""{"rideId":${e.rideId},"tMs":${e.tMs},"isStart":${e.isStart},""" +
          s""""lon":${e.lon},"lat":${e.lat},"passengers":${e.passengers}}"""))
    val chunkSize = math.max(1, math.ceil(events.size.toDouble / nChunks).toInt)
    val dataChunks = events.grouped(chunkSize).toVector
    dataChunks.zipWithIndex.foreach { case (chunk, i) => writeChunk(chunk, i) }
    if (flushChunk.nonEmpty) writeChunk(flushChunk, dataChunks.size)
    dir.toString
  }

  /** Reader half of [[jsonlFileStream]]: a parsed streaming DataFrame
    * over an existing chunk dir — one chunk per micro-batch; each
    * caller gets an independent reader (its own offset log), so a
    * shared fixture dir is read-only sharing.
    */
  def openJsonlStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("rideId", LongType), StructField("tMs", LongType),
      StructField("isStart", BooleanType), StructField("lon", DoubleType),
      StructField("lat", DoubleType), StructField("passengers", IntegerType)))
    spark.readStream
      .option("maxFilesPerTrigger", "1")
      .text(dir)
      .select(from_json(col("value"), schema).as("j"))
      .select(col("j.rideId").as("rideId"), col("j.tMs").as("tMs"),
        col("j.isStart").as("isStart"), col("j.lon").as("lon"),
        col("j.lat").as("lat"), col("j.passengers").as("passengers"))
      .withColumn("ts", timestamp_millis(col("tMs")))
  }

  /** Pacing for live demo replay (reference `toServingTime`,
    * `sources/TaxiRideSource.scala:265-268`): each batch is fed at its
    * ABSOLUTE wall deadline `wallStart + (interval + 1) · batchMs` —
    * deadline-based like the reference's servingTime arithmetic, not
    * sleep-per-batch, so (a) feed-side processing time doesn't
    * accumulate as drift across a long replay, and (b) an EMPTY
    * serving interval (a lull in the data) holds real wall silence
    * instead of being compressed away. Test code never calls this;
    * the demo `main` and `tools.PacedCheck` do. Returns per-batch
    * lateness (feed time − deadline, ms) so a caller can report
    * serving-rate fidelity.
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

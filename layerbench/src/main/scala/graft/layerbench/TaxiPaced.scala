package graft.layerbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.queries.StreamingQueries
import graft.streaming.{KeyedUpsertSink, RideEvent, TaxiPipelines, TaxiReplay}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.graftbridge.StateStoreBridge

/** Open loop at a fixed rate: one driver thread feeds serving-ordered
  * rides into `TaxiReplay.memoryStream` on an absolute wall schedule;
  * `TaxiPipelines.totalArrivalCount` (Update mode) runs on
  * `StreamingQueries.streamSession` with a processing-time trigger and
  * `foreachBatch` upserts into `KeyedUpsertSink`.
  *
  * A result is one tick: its latency runs from the tick's due time to
  * the return of the `upsert` call of the first micro-batch whose end
  * offset covers the tick. A tick whose batch never commits is failed.
  */
object TaxiPaced {

  private final case class Tick(dueNs: Long, addStartNs: Long, addEndNs: Long, offset: Long)

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val rate = o.wlInt("rate_per_s")
    val tickMs = o.wlInt("tick_ms")
    val perTick = math.max(1, rate * tickMs / 1000)
    val nTicks = math.max(1, ctx.seconds * 1000 / tickMs)
    val maxDelayMs = o.wlLong("max_delay_ms")
    val triggerMs = o.wlInt("trigger_ms")
    val ticksPerTrigger = math.max(1, triggerMs / tickMs)
    val warmTicks = o.wlInt("warm_s") * 1000 / triggerMs * ticksPerTrigger
    val gen = o.rideGen
    val nEvents = (warmTicks + nTicks) * perTick

    // set-up: generate the rides and put them in serving order
    val evs = gen.events(nEvents)
    val t1 = System.nanoTime()
    val served = TaxiReplay.servingOrder(evs, maxDelayMs, o.seed).toVector
    val servingOrderS = (System.nanoTime() - t1) / 1e9

    val ss = StreamingQueries.streamSession(ctx.spark)
    val (ms, df) = TaxiReplay.memoryStream(ss)
    val sink = new KeyedUpsertSink(Seq("cell"), ctx.tmp.resolve("upsert-log").toString)
    val upserts = new ConcurrentHashMap[Long, (Long, Long)]()
    val write: (Dataset[Row], Long) => Unit = { (batch, id) =>
      val a = System.nanoTime()
      sink.upsert(batch, id)
      upserts.put(id, (a, System.nanoTime()))
    }
    val q = TaxiPipelines.totalArrivalCount(df)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ctx.scratch("ckpt-paced").toString)
      .trigger(Trigger.ProcessingTime(triggerMs.toLong))
      .foreachBatch(write)
      .start()

    var fed = 0
    def nextTick(): Seq[RideEvent] = {
      val b = served.slice(fed, fed + perTick)
      fed += b.size
      b
    }
    def feedTick(dueNs: Long): Tick = {
      val sleep = dueNs - System.nanoTime()
      if (sleep > 0) Thread.sleep(sleep / 1000000L, (sleep % 1000000L).toInt)
      val b = nextTick()
      val a = System.nanoTime()
      val off = ms.addData(b).json().toLong
      Tick(dueNs, a, System.nanoTime(), off)
    }
    val tickNs = tickMs * 1000000L

    // warm-up: a fixed span of the open-loop schedule itself, from a cold
    // JVM (a fixed span puts every run at the same point of the JIT ramp);
    // the measured window continues the schedule. The engine fires processing-time triggers at multiples of the
    // interval since the epoch; the schedule starts half a tick after one
    // and the measured window on a trigger boundary of it, so every run
    // sees the same tick-to-trigger phase
    val alignedMs = (System.currentTimeMillis() / triggerMs + 1) * triggerMs + tickMs / 2
    val warmStartNs = System.nanoTime() + (alignedMs - System.currentTimeMillis()) * 1000000L
    (0 until warmTicks).foreach(i => feedTick(warmStartNs + i * tickNs))
    val warmBatchMs = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble)

    // measured window: the next nTicks of the same schedule
    val startNs = warmStartNs + warmTicks * tickNs
    val firstTimedEpochNs = Main.epochNs + (startNs - System.nanoTime())
    val startEpochMs = System.currentTimeMillis() - (System.nanoTime() - startNs) / 1000000L
    val ticks = Array.tabulate(nTicks)(i => feedTick(startNs + i * tickNs))
    val feedEndNs = System.nanoTime()
    val lastOffset = ticks.last.offset

    // wait (bounded) for the last tick to commit
    val deadline = System.nanoTime() + o.wlInt("commit_timeout_s") * 1000000000L
    def committedOffset: Long =
      Option(q.lastProgress).flatMap(p => p.sources.headOption).map(_.endOffset)
        .filter(s => s != null && s != "null").map(_.toLong).getOrElse(-1L)
    while (committedOffset < lastOffset && System.nanoTime() < deadline && q.isActive) Thread.sleep(5)
    val endEpochMs = System.currentTimeMillis()
    val queryError = q.exception.map(_.toString)
    q.stop()
    org.apache.spark.layerbench.ListenerBusBridge.waitUntilEmpty(ctx.spark.sparkContext)
    StateStoreBridge.unloadQuery(q.runId)

    // map each tick to the first batch whose end offset covers it
    val batches = ctx.progress.forQuery(q.id).filter(b => b.endOffset != null && b.endOffset != "null")
    val measured = batches.filter(b => b.startEpochMs >= startEpochMs - tickMs)
    val byEnd = batches.map(b => (b.endOffset.toLong, b.batchId)).sortBy(_._1).toVector
    def coveringBatch(off: Long): Option[Long] = {
      var lo = 0
      var hi = byEnd.size
      while (lo < hi) { val mid = (lo + hi) / 2; if (byEnd(mid)._1 >= off) hi = mid else lo = mid + 1 }
      if (lo < byEnd.size) Some(byEnd(lo)._2) else None
    }
    val covered = ticks.toSeq.map(t => t -> coveringBatch(t.offset).flatMap(id => Option(upserts.get(id)).map(id -> _)))
    val latencies = covered.collect { case (t, Some((_, (_, end)))) => (end - t.dueNs) / 1e6 }
    val lost = covered.count(_._2.isEmpty)
    val backlog = covered.count { case (_, c) => c.forall(_._2._2 > feedEndNs) }

    // correctness gate: the folded sink state equals batch totalArrivalCount
    // over every event fed (warm-up included); compaction is a per-layer
    // figure only, so untraced runs skip it
    val tc = System.nanoTime()
    if (ctx.tracer.enabled) sink.compact(ss)
    val compactS = (System.nanoTime() - tc) / 1e9
    val tf = System.nanoTime()
    val got = sink.toDF(ss).collect().toSeq
    val foldS = (System.nanoTime() - tf) / 1e9
    import ss.implicits._
    val expected = TaxiPipelines.totalArrivalCount(
      ss.createDataset(served.take(fed)).toDF().withColumn("ts", timestamp_millis(col("tMs"))))
      .collect().toSeq
    val cols = Seq("cell", "last_t_ms", "cnt", "center_lon", "center_lat")
    def key(r: Row): String = cols.map(c => String.valueOf(r.get(r.fieldIndex(c)))).mkString("|")
    val gate = queryError.isEmpty && got.map(key).sorted == expected.map(key).sorted
    sink.close()

    if (ctx.tracer.enabled) {
      val tr = ctx.tracer
      val upsertSpans = upserts.asScala.toMap
      measured.foreach { b =>
        val (_, addBatch) = StreamLayers.traceBatch(tr, b, -1)
        upsertSpans.get(b.batchId).foreach { case (a, e) =>
          tr.add("sink.upsert", addBatch, tr.nanoToMs(a), tr.nanoToMs(e), Seq("batch_id" -> b.batchId))
        }
      }
      covered.foreach { case (t, c) =>
        val id = tr.add("feed.tick", -1, tr.nanoToMs(t.dueNs), tr.nanoToMs(t.addEndNs),
          Seq("offset" -> t.offset, "batch_id" -> c.map(_._1).getOrElse(-1L),
            "result_ms" -> c.map(x => (x._2._2 - t.dueNs) / 1e6).getOrElse(-1.0)))
        tr.add("feed.add_data", id, tr.nanoToMs(t.addStartNs), tr.nanoToMs(t.addEndNs))
      }
    }

    val measuredUpserts = measured.flatMap(b => Option(upserts.get(b.batchId))).map { case (a, e) => (e - a) / 1e6 }
    val unit = MeasuredUnit(startEpochMs, endEpochMs, measured)
    val windowS =
      if (latencies.isEmpty) Double.NaN
      else (covered.flatMap(_._2).map(_._2._2).max - startNs) / 1e9
    val layers = StreamLayers.metrics(Seq(unit), ctx.tasks) ++ Map(
      "feed.add_data_ms" -> Stats.median(ticks.toSeq.map(t => (t.addEndNs - t.addStartNs) / 1e6)),
      "feed.late_ms_p95" -> Stats.quantile(ticks.toSeq.map(t => (t.addEndNs - t.dueNs) / 1e6), 0.95),
      "feed.backlog_ticks" -> backlog.toDouble,
      "ingress.serving_order_s" -> servingOrderS,
      "sink.upsert_ms" -> Stats.medianOr0(measuredUpserts),
      "sink.compact_s" -> compactS,
      "sink.fold_s" -> foldS)
    val p50 = Stats.quantile(latencies, 0.5)
    val p95 = Stats.quantile(latencies, 0.95)
    Outcome(
      attempted = nTicks,
      failed = if (gate) lost else nTicks,
      gatePassed = gate,
      resultMs = if (gate) latencies else Nil,
      throughputPerS = (latencies.size * perTick) / windowS,
      firstTimedEpochNs = firstTimedEpochNs,
      layers = layers,
      headline = Seq(
        ("result_lat_p50_ms", p50, "ms"), ("result_lat_p95_ms", p95, "ms"),
        ("ticks", nTicks.toDouble, "count"), ("ticks_beyond_p95", latencies.count(_ > p95).toDouble, "count")),
      notes = Seq("warm_batch_ms" -> warmBatchMs, "warm_s" -> warmTicks * tickMs / 1e3,
        "events_per_tick" -> perTick, "events_fed" -> fed, "sink_keys" -> got.size,
        "query_error" -> queryError.getOrElse("")))
  }
}

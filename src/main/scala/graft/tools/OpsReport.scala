package graft.tools

import graft.queries.StreamingQueries
import graft.streaming.{Ev, Replay}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Operational report over a streaming job's two observability
  * surfaces — the progress feed (`StreamingQueryProgress`: per-batch
  * rows, durations, state-operator metrics, watermark) and the
  * checkpoint state reader (`statestore` / `state-metadata` sources) —
  * rendered as one artifact. This is the data half of the reference's
  * Kibana dashboard (`README.md:137-172`): what an operator watches
  * (ingest rate, batch latency distribution, watermark lag, state
  * size) without a rendering surface, reconciled against the
  * checkpoint itself so the numbers are auditable after the fact.
  *
  * The collection core is pure over `Seq[StreamingQueryProgress]` so
  * specs (OpsReportSpec) reconcile it row-for-row with the state
  * reader; the `main` wires it to the standard events replay at a
  * chosen SF and writes `OPS_REPORT.md`.
  */
object OpsReport {

  /** One micro-batch's operational row, flattened from
    * `StreamingQueryProgress`. Durations in ms; `stateBytes` is the
    * provider-reported memory of all stateful operators; watermark /
    * max-event-time are absent until the first watermarked batch.
    */
  final case class BatchStat(
      batchId: Long,
      inputRows: Long,
      triggerMs: Long,
      addBatchMs: Long,
      stateRowsTotal: Long,
      stateRowsUpdated: Long,
      stateBytes: Long,
      watermarkMs: Option[Long],
      maxEventMs: Option[Long]) {
    /** Event-time lag the operator actually watches: how far the
      * watermark trails the newest event seen so far (>= the
      * configured delay while data flows).
      */
    def watermarkLagMs: Option[Long] =
      for (w <- watermarkMs; m <- maxEventMs) yield m - w
  }

  private def parseIsoMs(s: String): Option[Long] =
    try Option(s).filter(_.nonEmpty)
      .map(java.time.Instant.parse(_).toEpochMilli)
    catch { case _: Exception => None }

  /** Flatten the progress feed. `lastProgress`/`recentProgress` emit
    * one object per micro-batch (no-data batches disabled in the
    * replay sessions); state metrics sum across stateful operators.
    */
  def batchStats(progresses: Seq[StreamingQueryProgress]): Seq[BatchStat] =
    progresses.toList.map { p =>
      val dur = p.durationMs
      def d(k: String): Long =
        Option(dur.get(k)).map(_.longValue()).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      BatchStat(
        batchId = p.batchId,
        inputRows = p.numInputRows,
        triggerMs = d("triggerExecution"),
        addBatchMs = d("addBatch"),
        stateRowsTotal = ops.map(_.numRowsTotal).sum,
        stateRowsUpdated = ops.map(_.numRowsUpdated).sum,
        stateBytes = ops.map(_.memoryUsedBytes).sum,
        // epoch-zero means "watermark not yet initialized" (no prior
        // batch), not a real 1970 watermark — report no lag for it
        watermarkMs = parseIsoMs(p.eventTime.get("watermark")).filter(_ != 0L),
        maxEventMs = parseIsoMs(p.eventTime.get("max")))
    }.sortBy(_.batchId)

  /** Power-of-two latency histogram (1–2 ms, 2–4 ms, …): fixed bucket
    * edges so two reports from different windows compare bucket-wise.
    */
  def latencyHistogram(latenciesMs: Seq[Long]): Seq[(Long, Long, Int)] = {
    if (latenciesMs.isEmpty) return Nil
    val maxBucket = math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, latenciesMs.max)))
    (0 until maxBucket).map { b =>
      val lo = if (b == 0) 0L else 1L << b
      val hi = (1L << (b + 1)) - 1
      (lo, hi, latenciesMs.count(l => l >= lo && l <= hi))
    }.filter(_._3 > 0)
  }

  /** Per-partition state rows from the checkpoint reader — the
    * reconciliation surface: its total must equal the final
    * progress-reported `stateRowsTotal`, and its content IS the
    * aggregate (`events_state_reader`'s oracle contract).
    */
  def stateByPartition(ss: SparkSession, ckpt: String): Seq[(Int, Long)] =
    ss.read.format("statestore").load(ckpt)
      .groupBy(col("partition_id")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .toSeq.sortBy(_._1)

  /** Render the artifact. Markdown tables — the point is a committed,
    * diffable report, not a UI.
    */
  def render(
      title: String,
      stats: Seq[BatchStat],
      statePartRows: Seq[(Int, Long)],
      metadata: Seq[String]): String = {
    val sb = new StringBuilder
    sb ++= s"# Ops report — $title\n\n"
    sb ++= "## Micro-batches\n\n"
    sb ++= "| batch | input rows | trigger ms | addBatch ms | state rows | updated | state KiB | watermark lag ms |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    stats.foreach { s =>
      sb ++= s"| ${s.batchId} | ${s.inputRows} | ${s.triggerMs} | ${s.addBatchMs} | ${s.stateRowsTotal} | ${s.stateRowsUpdated} | ${s.stateBytes / 1024} | ${s.watermarkLagMs.map(_.toString).getOrElse("—")} |\n"
    }
    sb ++= s"\nTotal input rows: ${stats.map(_.inputRows).sum}\n"
    sb ++= "\n## Batch latency histogram (triggerExecution)\n\n"
    sb ++= "| bucket ms | batches |\n|---|---|\n"
    latencyHistogram(stats.map(_.triggerMs)).foreach { case (lo, hi, n) =>
      sb ++= s"| $lo–$hi | $n |\n"
    }
    sb ++= "\n## State store (checkpoint reader)\n\n"
    sb ++= "| partition | state rows |\n|---|---|\n"
    statePartRows.foreach { case (p, n) => sb ++= s"| $p | $n |\n" }
    sb ++= s"\nState rows total: ${statePartRows.map(_._2).sum}"
    val finalReported = stats.lastOption.map(_.stateRowsTotal).getOrElse(0L)
    sb ++= s" (final progress reported: $finalReported — ${if (statePartRows.map(_._2).sum == finalReported) "reconciled" else "MISMATCH"})\n"
    sb ++= "\n## Operator metadata (state-metadata source)\n\n"
    metadata.foreach(m => sb ++= s"- $m\n")
    sb.toString
  }

  /** Build + run the standard watermarked events aggregation over the
    * gz JSONL replay, returning everything the report needs. Shared by
    * `main` and OpsReportSpec so the committed artifact and the green
    * spec are the same code path.
    */
  def collectFromEventsReplay(
      spark: SparkSession, sfDir: String, nChunks: Int):
      (Seq[BatchStat], Seq[(Int, Long)], Seq[String], Long) = {
    val ss = StreamingQueries.streamSession(spark)
    val evs = StreamingQueries.eventRows(ss, sfDir)
    val dir = Replay.write(evs, nChunks)
    Replay.run(Replay.read[Ev](ss, dir)
        .withWatermark("ts", "60 seconds")
        .groupBy(col("etype"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("value_sum"))
        .writeStream.outputMode("update")
        .format("noop"),
      dirs = Seq(dir)) { (q, ckpt) =>
      q.processAllAvailable()
      q.stop()
      val stats = batchStats(q.recentProgress.toSeq)
      val parts = stateByPartition(ss, ckpt)
      val md = ss.read.format("state-metadata").load(ckpt)
        .collect().map(r =>
          s"operator=${r.getAs[String]("operatorName")} store=${r.getAs[String]("stateStoreName")} " +
          s"partitions=${r.getAs[Int]("numPartitions")} batches=${r.getAs[Long]("minBatchId")}..${r.getAs[Long]("maxBatchId")}")
        .toSeq
      (stats, parts, md, evs.size.toLong)
    }
  }

  /** Self-contained HTML render — the reference's Kibana dashboard
    * (`README.md:137-172`) as a static artifact: no JS dependencies,
    * inline SVG only, so the file opens anywhere and diffs in review.
    * Panels mirror the dashboard's: ingest rate per batch, batch
    * latency, state size, watermark lag, and the state-store
    * partition layout with the reconciliation verdict.
    */
  def renderHtml(
      title: String,
      stats: Seq[BatchStat],
      statePartRows: Seq[(Int, Long)],
      metadata: Seq[String]): String = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    // inline SVG bar panel: fixed 480×120 viewport, bars scaled to max
    def bars(title: String, values: Seq[(String, Long)], unit: String): String = {
      val max = math.max(1L, values.map(_._2).max)
      val w = 480; val h = 120; val pad = 4
      val bw = (w - pad * 2).toDouble / math.max(1, values.size)
      val rects = values.zipWithIndex.map { case ((label, v), i) =>
        val bh = math.max(1.0, (h - 30) * v.toDouble / max)
        f"""<rect x="${pad + i * bw}%.1f" y="${h - 18 - bh}%.1f" width="${bw * 0.8}%.1f" height="$bh%.1f" fill="#4878a8"><title>${esc(label)}: $v $unit</title></rect>"""
      }.mkString("\n")
      val labels = values.zipWithIndex.map { case ((label, _), i) =>
        f"""<text x="${pad + i * bw + bw * 0.4}%.1f" y="${h - 6}" font-size="9" text-anchor="middle" fill="#555">${esc(label)}</text>"""
      }.mkString("\n")
      s"""<div class="panel"><h3>${esc(title)}</h3>
         |<svg viewBox="0 0 $w $h" width="$w" height="$h" role="img">$rects
         |$labels
         |<text x="$pad" y="12" font-size="10" fill="#333">max $max $unit</text></svg></div>""".stripMargin
    }
    val readerTotal = statePartRows.map(_._2).sum
    val finalReported = stats.lastOption.map(_.stateRowsTotal).getOrElse(0L)
    val verdict =
      if (readerTotal == finalReported) s"""<span class="ok">reconciled ($readerTotal rows)</span>"""
      else s"""<span class="bad">MISMATCH: reader $readerTotal vs progress $finalReported</span>"""
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>body{font-family:sans-serif;margin:20px;color:#222}
       |.panel{display:inline-block;margin:8px;padding:8px;border:1px solid #ddd;border-radius:4px}
       |h3{margin:0 0 6px;font-size:13px}.ok{color:#1a7f37}.bad{color:#b91c1c}
       |table{border-collapse:collapse;font-size:12px}td,th{border:1px solid #ddd;padding:3px 8px}</style>
       |</head><body>
       |<h1 style="font-size:16px">Ops dashboard — ${esc(title)}</h1>
       |<p>State store vs progress feed: $verdict</p>
       |${bars("Input rows per micro-batch", stats.map(s => (s.batchId.toString, s.inputRows)), "rows")}
       |${bars("Batch latency (triggerExecution ms)", stats.map(s => (s.batchId.toString, s.triggerMs)), "ms")}
       |${bars("State rows after batch", stats.map(s => (s.batchId.toString, s.stateRowsTotal)), "rows")}
       |${bars("Watermark lag (ms)", stats.flatMap(s => s.watermarkLagMs.map(l => (s.batchId.toString, l))), "ms")}
       |${bars("State rows per partition", statePartRows.map { case (p, n) => (s"p$p", n) }, "rows")}
       |<h3>Operator metadata</h3><ul>${metadata.map(m => s"<li>${esc(m)}</li>").mkString}</ul>
       |</body></html>""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = args.drop(1).headOption
    val spark = graft.Session()
    val (stats, parts, md, fed) = collectFromEventsReplay(spark, sfDir, nChunks = 4)
    val title = s"events type-count replay over $sfDir ($fed events fed)"
    val report = render(title, stats, parts, md)
    outPath match {
      case Some(p) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          report.getBytes("UTF-8"))
        println(s"[ops] wrote $p")
        // HTML twin next to the markdown artifact (the dashboard half)
        val hp = p.replaceAll("\\.md$", "") + ".html"
        java.nio.file.Files.write(java.nio.file.Paths.get(hp),
          renderHtml(title, stats, parts, md).getBytes("UTF-8"))
        println(s"[ops] wrote $hp")
      case None => println(report)
    }
    spark.stop()
  }
}

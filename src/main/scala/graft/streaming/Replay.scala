package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The replay harness: the file-drop twin of the reference's replay
  * source (`sources/TaxiRideSource.scala:53-263`) and the lifecycle of
  * every query that consumes it.
  *
  * A feed is a serving-ordered row sequence cut into chunk files, one
  * file per micro-batch:
  *
  *  - [[chunks]] is the feed→micro-batch assignment: chunk i IS
  *    micro-batch i. Specs that reason about one micro-batch (state
  *    time travel to batchId 0) use it instead of re-deriving it.
  *  - [[writeLines]] writes the chunks. FileStreamSource orders files
  *    by modification time, so each file's mod time is stamped
  *    strictly increasing by chunk index: two chunks written in the
  *    same clock tick would otherwise tie and could replay out of feed
  *    order, dropping a whole chunk as late under a watermark.
  *  - The optional flush chunk is written after the last data chunk
  *    and is processed as one more data micro-batch. It applies the
  *    watermark that the last data chunk advanced: the replay sessions
  *    disable no-data micro-batches (`StreamingQueries.streamSession`),
  *    so without it the tail panes of an Append-mode query never emit.
  *    Callers re-feed a zero-weight sentinel there (see
  *    `StreamingQueries.appendReplay` for that contract).
  *  - [[lines]] is the one reader: `readStream.text`, one chunk file
  *    per trigger. [[read]] parses a JSON wire type over it.
  *
  * A wire type is a case class; [[jsonLine]] writes it and [[read]]
  * takes its schema from its encoder, so a field is declared once.
  * Integers and booleans serialize exactly, doubles and floats in
  * their shortest round-tripping form, strings through one escape and
  * binary as base64, so `from_json` reads every value back bit for bit
  * (ReplayWireSpec).
  *
  * [[run]] owns a query's checkpoint: it starts the query inside its
  * `try`, and its `finally` stops the query, deletes the checkpoint and
  * every dir or sink handed to it, and unloads that run's state-store
  * providers only (`StateStoreBridge.unloadQuery`; TargetedUnloadSpec).
  */
object Replay {

  /** Cut `rows` into at most `n` consecutive chunks of equal size (the
    * last may be shorter).
    */
  def chunks[T](rows: Seq[T], n: Int): Vector[Seq[T]] = {
    val size = math.max(1, math.ceil(rows.size.toDouble / n).toInt)
    rows.grouped(size).toVector
  }

  /** Write one chunk file `i` into `dir`, gzipped on request, with the
    * mod time stamped from `i`. A chunk written after a query started
    * (or after a restart) is picked up by the next file listing.
    */
  def writeChunkFile(dir: String, i: Int, lines: Seq[String],
      gzip: Boolean = true, ext: String = "jsonl"): Unit = {
    val payload = lines.mkString("\n").getBytes("UTF-8")
    val data =
      if (gzip) {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(payload); gz.close()
        bos.toByteArray
      } else payload
    val name = f"chunk-$i%05d.$ext" + (if (gzip) ".gz" else "")
    val p = Files.write(Paths.get(dir).resolve(name), data)
    Files.setLastModifiedTime(p, FileTime.fromMillis(1000000000000L + i * 1000L))
  }

  /** Write `rows` as `nChunks` chunk files plus the optional trailing
    * flush chunk into a fresh dir, one `line` per row, and return the
    * dir. The caller deletes it (hand it to [[run]]) or caches it
    * ([[fixture]]).
    */
  def writeLines[T](rows: Seq[T], nChunks: Int, flush: Seq[T] = Nil,
      gzip: Boolean = true, ext: String = "jsonl")(line: T => String): String = {
    val dir = TempDir.create("graft-replay-").toString
    val data = chunks(rows, nChunks)
    data.zipWithIndex.foreach { case (c, i) => writeChunkFile(dir, i, c.map(line), gzip, ext) }
    if (flush.nonEmpty) writeChunkFile(dir, data.size, flush.map(line), gzip, ext)
    dir
  }

  /** [[writeLines]] for a JSON wire type. */
  def write[T <: Product](rows: Seq[T], nChunks: Int, flush: Seq[T] = Nil): String =
    writeLines(rows, nChunks, flush)(jsonLine)

  /** One JSON chunk written into an existing dir. */
  def writeChunk[T <: Product](dir: String, i: Int, rows: Seq[T]): Unit =
    writeChunkFile(dir, i, rows.map(jsonLine))

  /** One wire row as a JSON object, fields in declaration order. */
  def jsonLine(row: Product): String = {
    val sb = new java.lang.StringBuilder(128).append('{')
    var i = 0
    while (i < row.productArity) {
      if (i > 0) sb.append(',')
      appendStr(sb, row.productElementName(i))
      appendValue(sb.append(':'), row.productElement(i))
      i += 1
    }
    sb.append('}').toString
  }

  private def appendValue(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String => appendStr(sb, s)
    case b: Array[Byte] =>
      sb.append('"').append(java.util.Base64.getEncoder.encodeToString(b)).append('"')
    case a: Array[_] =>
      sb.append('[')
      var i = 0
      while (i < a.length) {
        if (i > 0) sb.append(',')
        appendValue(sb, a(i))
        i += 1
      }
      sb.append(']')
    case x => sb.append(x.toString)
  }

  /** JSON string literal: quote, backslash and control characters are
    * escaped; everything else is written as UTF-8.
    */
  def jsonStr(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    appendStr(sb, s)
    sb.toString
  }

  private def appendStr(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** The chunk files in `dir` as a stream of text lines, one file per
    * micro-batch.
    */
  def lines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", "1").text(dir)

  /** The wire type `T` parsed from the chunk files in `dir`: its fields
    * as columns, plus the event-time `ts` when it carries `tMs`.
    */
  def read[T <: Product : TypeTag](spark: SparkSession, dir: String): DataFrame = {
    val schema = Encoders.product[T].schema
    val df = lines(spark, dir).select(from_json(col("value"), schema).as("j")).select("j.*")
    if (schema.fieldNames.contains("tMs")) df.withColumn("ts", timestamp_millis(col("tMs")))
    else df
  }

  /** Fixture dirs shared across entries: a fixture write that is pure
    * in its key is done once per JVM and read by any number of queries,
    * each through its own reader and offset log. One shutdown hook,
    * registered at class init, deletes every cached dir at exit (a
    * hook per entry would race an already-started shutdown).
    */
  private val fixtures =
    scala.collection.concurrent.TrieMap.empty[Any, (Any, String)]
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    fixtures.values.foreach { case (_, d) => TempDir.deleteRecursively(d) }))

  /** The cached `(value, dir)` for `key`, made on first use. */
  def fixture[V](key: Any)(make: => (V, String)): (V, String) =
    fixtures.getOrElseUpdate(key, make).asInstanceOf[(V, String)]

  /** The cached fixture dir for `key`, written on first use. */
  def fixtureDir(key: Any)(write: => String): String = fixture(key)(((), write))._2

  /** Run the query `writer` starts on a fresh checkpoint; see
    * [[runStarting]]. `writer` is evaluated inside the lifecycle, so a
    * pipeline that fails to build still releases `dirs` and `sinks`.
    */
  def run[A](writer: => DataStreamWriter[_], dirs: Seq[String] = Nil,
      sinks: Seq[KeyedUpsertSink] = Nil)(body: (StreamingQuery, String) => A): A =
    runStarting(ckpt => writer.option("checkpointLocation", ckpt).start(), dirs, sinks)(body)

  /** The one replay-query lifecycle. `start` gets a fresh checkpoint
    * dir and starts the query; `body` gets the query and that dir, and
    * drains the query and materializes the result before it returns.
    * Whether start, body or neither throws, the query is stopped, the
    * checkpoint, `dirs` and `sinks` are deleted, and the run's
    * state-store providers are unloaded.
    */
  def runStarting[A](start: String => StreamingQuery, dirs: Seq[String] = Nil,
      sinks: Seq[KeyedUpsertSink] = Nil)(body: (StreamingQuery, String) => A): A = {
    val ckpt = TempDir.create("graft-ckpt-").toString
    var q: StreamingQuery = null
    try {
      q = start(ckpt)
      body(q, ckpt)
    } finally {
      try if (q != null) q.stop()
      finally {
        TempDir.deleteRecursively(ckpt)
        dirs.foreach(TempDir.deleteRecursively)
        sinks.foreach(_.close())
        if (q != null) StateStoreBridge.unloadQuery(q.runId)
      }
    }
  }
}

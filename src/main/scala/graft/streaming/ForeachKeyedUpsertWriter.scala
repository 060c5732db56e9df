package graft.streaming

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{ForeachWriter, Row}

/** O14, per-record half: the connection-lifecycle keyed upsert writer
  * (reference `sinks/ElasticsearchUpsertSink.scala:54-81` — a
  * `TransportClient` opened in `open()`, one blocking upsert per
  * record, closed in `close()`).
  *
  * [[KeyedUpsertSink]] proves the SEMANTIC contract (idempotent keyed
  * convergence under batch-level replay); this writer proves the
  * PROCESS-BOUNDARY contract the reference's sink actually lives in:
  * a network connection per partition per epoch, per-record blocking
  * ack, and per-record retry with reconnect when the connection dies
  * mid-stream. Both converge to the same table because both reduce to
  * keyed last-write-wins on an external store.
  *
  * Delivery is AT-LEAST-ONCE: a connection lost after the store
  * applied a write but before the ack forces a resend of the same
  * (key, payload) — harmless exactly because the store upserts by
  * key, the same reasoning as the reference's document-id upsert
  * (`README.md:120-124` at-least-once note). Retries are bounded; an
  * exhausted record rethrows so the task (and micro-batch) fails
  * rather than silently dropping the write.
  *
  * Wire form: `U\t<key>\t<f0>\t<f1>…` with tab/newline/backslash
  * escaped per field and the LEADING `nKey` columns forming the key —
  * so the payload round-trips through [[SocketUpsertServer.toDF]]
  * without a schema side-channel. All fields are stringified with
  * `String.valueOf` (Java float/double shortest-round-trip
  * semantics); nulls ride as a marker no real field produces.
  *
  * Serializable by construction (host/port/ints only) — the instance
  * is shipped to every executor and `open()`ed per partition per
  * epoch, the `ForeachWriter` contract.
  */
final class ForeachKeyedUpsertWriter(
    host: String, port: Int, nKey: Int, maxRetries: Int = 5)
    extends ForeachWriter[Row] {

  @transient private var socket: Socket = _
  @transient private var in: BufferedReader = _
  @transient private var out: BufferedWriter = _

  private def connect(): Unit = {
    socket = new Socket(host, port)
    socket.setTcpNoDelay(true)
    socket.setSoTimeout(30000)
    in = new BufferedReader(new InputStreamReader(socket.getInputStream, UTF_8))
    out = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
  }

  private def disconnect(): Unit = {
    if (socket != null) { try socket.close() catch { case _: Exception => () } }
    socket = null; in = null; out = null
  }

  override def open(partitionId: Long, epochId: Long): Boolean = {
    // connection establishment gets its own bounded retry — a store
    // briefly unreachable at epoch start should not fail the batch
    var attempt = 0
    var ok = false
    while (!ok) {
      try { connect(); ok = true }
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(10L << math.min(attempt, 5))
      }
    }
    true
  }

  override def process(row: Row): Unit = {
    val line = ForeachKeyedUpsertWriter.encode(row, nKey)
    var attempt = 0
    var acked = false
    while (!acked) {
      try {
        if (socket == null) connect()
        out.write(line); out.write("\n"); out.flush()
        val resp = in.readLine()
        if (resp == "OK") acked = true
        else if (resp == null) throw new java.io.IOException("connection closed by store")
        else throw new java.io.IOException(s"store rejected record: $resp")
      } catch {
        case e: Exception =>
          // connection state is unknowable after a failure (the write
          // may or may not have applied) — drop it and resend; keyed
          // idempotency absorbs the potential duplicate
          disconnect()
          attempt += 1
          if (attempt > maxRetries) throw e
          // first retry is immediate (the reconnect is itself the
          // backoff); repeated failures of the SAME record back off
          // exponentially
          if (attempt > 1) Thread.sleep(10L << math.min(attempt, 5))
      }
    }
  }

  override def close(errorOrNull: Throwable): Unit = disconnect()
}

object ForeachKeyedUpsertWriter {
  /** Null field marker (U+2400 SYMBOL FOR NULL). Only a NULL field
    * emits it bare: a real string containing the codepoint is escaped
    * (`\0`), so marker collision is impossible by construction.
    */
  val NullMarker = "\u2400"

  private def esc(v: AnyRef): String =
    if (v == null) NullMarker
    else String.valueOf(v)
      .replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
      .replace(NullMarker, "\\0")

  /** `U\t<key>\t<all fields tab-joined>`; key = first `nKey` escaped
    * fields joined with `\u0001` (never collides with field content —
    * the escape set doesn't emit it and numeric fields can't contain
    * it).
    */
  def encode(row: Row, nKey: Int): String = {
    val fields = (0 until row.length).map(i => esc(row.get(i).asInstanceOf[AnyRef]))
    "U\t" + fields.take(nKey).mkString("\u0001") + "\t" + fields.mkString("\t")
  }

  /** Symmetric single-pass decode of a stored payload: split on real
    * tabs (escaped fields contain none), then unescape each field -
    * one pass, so a literal backslash-then-t survives (sequential
    * replace would corrupt it). The null marker decodes to null.
    */
  def decodeFields(payload: String): Seq[String] =
    // -1 limit: a trailing EMPTY field must survive the split (Java's
    // default drops trailing empties — found by the PropertiesSpec
    // roundtrip on a [null, ""] row)
    payload.split("\t", -1).toSeq.map { f =>
      if (f == NullMarker) null
      else {
        val sb = new java.lang.StringBuilder(f.length)
        var i = 0
        while (i < f.length) {
          val c = f.charAt(i)
          if (c == '\\' && i + 1 < f.length) {
            f.charAt(i + 1) match {
              case 't'  => sb.append('\t'); i += 2
              case 'n'  => sb.append('\n'); i += 2
              case '0'  => sb.append('␀'); i += 2
              case '\\' => sb.append('\\'); i += 2
              case _    => sb.append(c); i += 1
            }
          } else { sb.append(c); i += 1 }
        }
        sb.toString
      }
    }
}

package graft.api

import java.io.{DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.Base64

import org.apache.spark.sql.SparkSession

import graft.engine.{Codec, FossilSchema}
import graft.fql.Compiler

/** Minimal TCP front-end speaking the fossil wire protocol shape — the S7
  * close-out. Framing per `pkg/proto/message.go:80-113`: every message is
  * `[u32 BE length][8-byte NUL-padded command][payload]` with
  * `length = 8 + len(payload)`. Responses mirror the reference marshal
  * shapes (`pkg/proto/message.go:284-338,425-467,601-614`):
  *
  *  - OK / ERR   → `[u32 code][utf8 message]`
  *  - VERSION    → OK payload carrying the version string
  *  - QUERY      → `[u32 count]` then per entry `[u32 len][entry line]`,
  *                 entry line = `RFC3339Nano time \t topic \t base64(data)
  *                 \t schema` (`pkg/database/result.go:31-33`), data being
  *                 the fossil wire encoding of the value ([[Codec]])
  *  - LIST       → `[u32 count]` then per item `[u32 len][topic ddl]`
  *  - APPEND     → payload `[u32 topic-len][topic][raw bytes]`
  *                 (`pkg/proto/message.go:382-405`), validated through the
  *                 schema-on-append gate ([[LocalClient.appendRaw]])
  *  - CREATE     → payload `[u32 topic-len][topic][schema ddl]`
  *  - USE        → payload = store name; per-connection [[Session]] state
  *
  * This is a front-end, not a distributed data path: results stream to the
  * client through `toLocalIterator` (one partition in memory at a time),
  * which is the inherent shape of a wire protocol handing rows to a single
  * consumer. Bulk analytics stay on the DataFrame API; this surface exists
  * for reference-client parity (QUERY/APPEND/LIST/USE/VERSION round-trip).
  */
final class WireServer(
    spark: SparkSession, storeRoots: Map[String, String], defaultStore: String,
    clock: Compiler.Clock = Compiler.systemClock,
    maxResponseBytes: Int = WireServer.MaxMessageBytes,
    bindPort: Int = 0,
    metricsPort: Int = -1,
    metricsHost: String = "127.0.0.1") {

  import WireServer._

  /** Operational metrics, reference-parity names/labels/buckets
    * ([[ServerMetrics]]): connection counter, per-(db,cmd) request
    * counters, response-time histogram. Scrape via the `METRICS` wire
    * command or, when `metricsPort >= 0`, a plain-HTTP `/metrics`
    * endpoint (the reference's promhttp analog, `pkg/server/metrics.go`). */
  val metrics = new ServerMetrics

  // ONE client (→ one ParquetStore, one live catalog) per root, shared by
  // every connection: per-connection store instances would each snapshot
  // catalog.json at connect time and clobber each other's topic registry
  // on persist (lost-update). Mutating store ops serialize inside
  // ParquetStore; the catalog itself is a concurrent map.
  private val clients: Map[String, LocalClient] =
    storeRoots.map { case (name, root) => name -> new LocalClient(spark, root, clock) }

  // one shape collector per attached store, evaluated on every scrape
  // (reference: server registers NewDBStatsCollector per opened database).
  // Registered BEFORE the HTTP endpoint below starts serving, so even a
  // scrape landing in the construction window carries the db gauges.
  clients.foreach { case (name, client) =>
    metrics.registerDatabase(name, () => client.storeShape)
  }

  private val metricsHttp: Option[com.sun.net.httpserver.HttpServer] =
    if (metricsPort < 0) None
    else {
      // loopback by default: the scrape exposes db names and traffic shape,
      // so it must not bind the wildcard address unless explicitly asked
      // (set metricsHost to "0.0.0.0" to export beyond the host)
      val h = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(
          java.net.InetAddress.getByName(metricsHost), metricsPort), 0)
      h.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = metrics.render.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        val os = ex.getResponseBody
        try os.write(body) finally os.close()
      })
      h.start()
      Some(h)
    }
  /** Bound HTTP metrics port (-1 when the endpoint is disabled). */
  def httpMetricsPort: Int =
    metricsHttp.map(_.getAddress.getPort).getOrElse(-1)
  /** Bound HTTP metrics bind address (None when disabled) — loopback
    * unless `metricsHost` explicitly widened it. */
  private[api] def httpMetricsAddress: Option[java.net.InetAddress] =
    metricsHttp.map(_.getAddress.getAddress)

  private val server = new ServerSocket(bindPort) // 0 = ephemeral port
  def port: Int = server.getLocalPort
  @volatile private var running = true
  // live accepted sockets, so close() actually severs clients (otherwise
  // handler threads would keep their conns alive past server shutdown)
  private[api] val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        conns.add(sock)
        // close() may have iterated `conns` between accept() and add():
        // re-check so a connection accepted in that window can't outlive
        // the server shutdown
        if (!running) { conns.remove(sock); sock.close() }
        else {
          val t = new Thread(() => handle(sock), "graft-wire-conn")
          t.setDaemon(true)
          t.start()
        }
      } catch { case _: IOException => () /* closed */ }
    }
  }, "graft-wire-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = {
    running = false
    server.close()
    metricsHttp.foreach(_.stop(0))
    conns.forEach(s => try s.close() catch { case _: IOException => () })
    conns.clear()
  }

  private def handle(sock: Socket): Unit = {
    // the WHOLE handler — including session setup — sits inside the
    // try/finally: a failure attaching stores must still close the socket
    // and drop it from the live set, not leak a hung connection
    try {
      sock.setTcpNoDelay(true) // replies are single frames: never hold them back
      metrics.incClientConnection() // reference: mux.go:91, per accept
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      // per-connection session state, like the reference's conn.db
      // (`pkg/server/mux.go:96-118`)
      val session = new Session(spark, clock)
      clients.foreach { case (name, client) => session.attach(name, client) }
      session.use(defaultStore)
      while (true) {
        val (cmd, payload) = readMessage(in)
        val t0 = System.nanoTime()
        try serve(cmd, payload, session, out)
        catch {
          case e: Exception =>
            writeMessage(out, "ERR", errPayload(500, Option(e.getMessage).getOrElse("error")))
        } finally {
          // count + time every request, errors included, against the
          // session's CURRENT database (reference: server.go:74-77).
          // Unknown commands collapse into one fixed label: `cmd` is the
          // client-supplied 8-byte header, and per-value counters would
          // let a client grow the metrics maps (and every scrape) without
          // bound — a memory DoS on a long-lived server.
          val db = session.activeName.getOrElse("")
          val cmdLabel = if (KnownCommands(cmd)) cmd else "UNKNOWN"
          metrics.incRequests(db, cmdLabel)
          metrics.observeResponseNs(db, cmdLabel, System.nanoTime() - t0)
        }
      }
    } catch { case _: EOFException | _: IOException => () } // client gone
    finally { conns.remove(sock); sock.close() }
  }

  /** Commands a fire-and-forget (write-only) connection may issue —
    * `docs/overview.md:45-53`: "limited to write only commands … to
    * ensure performant writes". VERSION stays (the connect handshake),
    * USE stays (selecting WHERE to write is part of writing), MODE stays
    * (the client may switch back to active). */
  private val writeOnlyCommands = Set("VERSION", "USE", "CREATE", "APPEND", "MODE")

  private def serve(
      cmd: String, payload: Array[Byte], session: Session, out: DataOutputStream): Unit =
    if (session.fireAndForget && !writeOnlyCommands(cmd))
      writeMessage(out, "ERR", errPayload(403,
        s"command not allowed on a fire-and-forget connection: $cmd"))
    else cmd match {
      case "MODE" =>
        new String(payload, StandardCharsets.UTF_8).trim.toLowerCase match {
          case "fire-and-forget" | "ff" =>
            session.fireAndForget = true
            writeMessage(out, "OK", okPayload(200, "fire-and-forget"))
          case "active" =>
            session.fireAndForget = false
            writeMessage(out, "OK", okPayload(200, "active"))
          case other =>
            writeMessage(out, "ERR", errPayload(400,
              s"unknown mode: $other (expected fire-and-forget | active)"))
        }
      case "VERSION" =>
        writeMessage(out, "OK", okPayload(200, Version))
      case "USE" =>
        session.use(new String(payload, StandardCharsets.UTF_8).trim)
        // reference: OkResponse{201, "database changed"}
        writeMessage(out, "OK", okPayload(201, "database changed"))
      case "LIST" =>
        // reference ListRequest.Object dispatch (`pkg/server/response.go:33-62`):
        // "databases" enumerates the server's store registry (dbMap analog);
        // anything else keeps the existing `topic ddl` listing, which covers
        // both the reference's "topics" (names) and "schemas" (name+schema)
        // views in one stable shape the clients already parse
        val what = new String(payload, StandardCharsets.UTF_8).trim
        val items =
          if (what == "databases") session.listDatabases
          else session.listTopics.map { case (t, ddl) => s"$t $ddl" }
        writeMessage(out, "OK", listPayload(items))
      case "STATS" =>
        // the reference reports process-heap numbers (`pkg/database/stats.go`)
        // which are meaningless for a distributed engine; we report
        // catalog/data stats per topic instead, in the LIST line shape
        val items = session.client.stats.collect().toSeq.map { r =>
          // explicit UTC like the QUERY entry lines — Timestamp.toString
          // would render in the server JVM's default timezone
          def fmt(i: Int) = EntryTimeFormat.format(r.getTimestamp(i).toInstant)
          s"${r.getString(0)} n=${r.getLong(1)} first=${fmt(2)} last=${fmt(3)}"
        }
        writeMessage(out, "OK", listPayload(items))
      case "CREATE" =>
        val (topic, rest) = lengthPrefixedString(payload)
        session.client.createTopic(topic, new String(rest, StandardCharsets.UTF_8).trim)
        writeMessage(out, "OK", okPayload(200, "Ok"))
      case "APPEND" =>
        val (topic, data) = lengthPrefixedString(payload)
        session.client.appendRaw(topic, data)
        writeMessage(out, "OK", okPayload(200, "Ok"))
      case "QUERY" =>
        val fql = new String(payload, StandardCharsets.UTF_8)
        val df = session.query(fql)
        val schema = FossilSchema.fromSpark(df.schema("value").dataType)
        // entry lines pull one partition at a time (toLocalIterator); the
        // u32-count header is counted during that same single execution and
        // patched into the buffered body before it hits the socket. The
        // frame's length prefix makes buffering inherent (the reference
        // marshals QueryResponse fully in memory too) — so responses are
        // capped like inbound messages; past the cap the client gets a
        // typed error instead of a server OOM or a >u32 frame.
        val body = new java.io.ByteArrayOutputStream()
        val bo = new DataOutputStream(body)
        bo.writeInt(0) // count placeholder
        var n = 0
        val rows = df.toLocalIterator()
        var overflow = false
        while (rows.hasNext && !overflow) {
          val r = rows.next()
          val bytes = entryLine(r, schema).getBytes(StandardCharsets.UTF_8)
          bo.writeInt(bytes.length)
          bo.write(bytes)
          n += 1
          // the wire FRAME adds 8 command bytes on top of the body — cap
          // against the frame size a client's readMessage will see, or a
          // body in the 8-byte window passes here and fails client-side
          overflow = body.size() > maxResponseBytes - 8
        }
        if (overflow)
          writeMessage(out, "ERR", errPayload(507,
            s"query response exceeds the $maxResponseBytes-byte wire cap; " +
              "narrow the query or use the DataFrame API"))
        else {
          val resp = body.toByteArray
          java.nio.ByteBuffer.wrap(resp).putInt(n)
          writeMessage(out, "OK", resp)
        }
      case "METRICS" =>
        // the scrape surface as a wire command (the reference exposes the
        // registry over promhttp; same text exposition bytes here)
        writeMessage(out, "OK", okPayload(200, metrics.render))
      case other =>
        writeMessage(out, "ERR", errPayload(501, s"command not found: $other"))
    }

  /** `time \t topic \t base64(wire bytes) \t schema` like Entry.ToString
    * (`pkg/database/result.go:31-33`). Array schemas arrive with length 0
    * (Spark's ArrayType has no fixed length) and are resolved to the
    * actual per-row length here; null values (ambiguous-schema prefix
    * scans surface opaque nulls) encode as empty data. A null time (the
    * synthetic entry a reduce emits) renders as Go's zero `time.Time`,
    * which is what the reference's reduce entry carries. */
  private def entryLine(r: org.apache.spark.sql.Row, schema: FossilSchema.SType): String = {
    import FossilSchema.SArray
    val t = Option(r.getAs[Timestamp]("time")).fold(WireServer.ZeroTime)(_.toInstant)
    val topic = r.getAs[String]("topic")
    val v = r.get(r.fieldIndex("value"))
    val rowSchema = (schema, v) match {
      case (SArray(_, e), s: scala.collection.Seq[_]) => SArray(s.length, e)
      case _ => schema
    }
    val data =
      if (v == null) Array.emptyByteArray
      else Codec.encode(rowSchema, v match {
        case row: org.apache.spark.sql.Row =>
          // composite: struct row → map keyed by field names
          row.schema.fieldNames.zip(row.toSeq).toMap
        case seq: scala.collection.Seq[_] => seq
        case x => x
      })
    val ts = WireServer.EntryTimeFormat.format(t)
    s"$ts\t$topic\t${Base64.getEncoder.encodeToString(data)}\t${rowSchema.ddl}"
  }

}

object WireServer {
  val Version = "v1.0.0" // protocol version answered to VERSION
  /** The command surface (metrics label allowlist). */
  val KnownCommands: Set[String] =
    Set("VERSION", "USE", "LIST", "STATS", "CREATE", "APPEND", "QUERY", "METRICS")
  /** 100 MiB, both directions (reference cap `pkg/proto/message.go:96-98`). */
  val MaxMessageBytes: Int = 100 * 1024 * 1024

  /** Go's zero `time.Time`, `0001-01-01T00:00:00Z`. */
  private[api] val ZeroTime: java.time.Instant = java.time.Instant.parse("0001-01-01T00:00:00Z")

  private[api] val EntryTimeFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .withZone(ZoneOffset.UTC)

  private[api] def readMessage(in: DataInputStream): (String, Array[Byte]) = {
    val length = in.readInt()
    if (length < 8 || length > MaxMessageBytes)
      throw new IOException(s"bad message length $length")
    readBody(in, length)
  }

  /** Read + split a frame body whose length prefix the caller already
    * consumed and validated ([[RemoteClient]] applies its own receive cap
    * to the prefix first, so an oversized frame surfaces as the typed 507
    * instead of a desynced read). */
  private[api] def readBody(in: DataInputStream, length: Int): (String, Array[Byte]) = {
    val buf = new Array[Byte](length)
    in.readFully(buf)
    val cmd = new String(buf, 0, 8, StandardCharsets.UTF_8)
      .replace("\u0000", "").trim.toUpperCase
    (cmd, buf.drop(8))
  }

  /** Frames up to this size go out in ONE socket write. */
  private val SingleWriteBytes = 64 * 1024

  /** `[u32 len][cmd, 8 bytes zero-padded][payload]`. A frame of up to
    * [[SingleWriteBytes]] is assembled and written in one call: separate
    * small writes of length, command and payload let Nagle's algorithm
    * hold the tail back until the peer's delayed ACK. A larger frame sends
    * its 12-byte head, then the payload uncopied. */
  private[api] def writeMessage(out: DataOutputStream, cmd: String, payload: Array[Byte]): Unit = {
    val whole = 12 + payload.length <= SingleWriteBytes
    val frame = java.nio.ByteBuffer.allocate(if (whole) 12 + payload.length else 12)
    frame.putInt(8 + payload.length)
    val c = cmd.getBytes(StandardCharsets.UTF_8)
    frame.put(c, 0, math.min(8, c.length)).position(12)
    if (whole) frame.put(payload)
    out.write(frame.array())
    if (!whole) out.write(payload)
    out.flush()
  }

  private[api] def okPayload(code: Int, message: String): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val o = new DataOutputStream(b)
    o.writeInt(code)
    o.write(message.getBytes(StandardCharsets.UTF_8))
    b.toByteArray
  }
  private[api] def errPayload(code: Int, message: String): Array[Byte] =
    okPayload(code, message)

  private[api] def listPayload(items: Seq[String]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val o = new DataOutputStream(b)
    o.writeInt(items.length)
    items.foreach { s =>
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      o.writeInt(bytes.length)
      o.write(bytes)
    }
    b.toByteArray
  }

  /** (string, rest) → `[u32 len][string][rest]` — the AppendRequest /
    * CreateTopicRequest payload shape (`pkg/proto/message.go:382-405`);
    * inverse of [[lengthPrefixedString]]. */
  private[api] def lengthPrefixed(s: String, rest: Array[Byte]): Array[Byte] = {
    val t = s.getBytes(StandardCharsets.UTF_8)
    val buf = java.nio.ByteBuffer.allocate(4 + t.length + rest.length)
    buf.putInt(t.length).put(t).put(rest)
    buf.array()
  }

  /** `[u32 len][string][rest]` → (string, rest) — the AppendRequest /
    * CreateTopicRequest payload shape (`pkg/proto/message.go:382-405`). */
  private[api] def lengthPrefixedString(payload: Array[Byte]): (String, Array[Byte]) = {
    val buf = java.nio.ByteBuffer.wrap(payload)
    val n = buf.getInt
    val s = new Array[Byte](n)
    buf.get(s)
    val rest = new Array[Byte](buf.remaining())
    buf.get(rest)
    (new String(s, StandardCharsets.UTF_8), rest)
  }
}

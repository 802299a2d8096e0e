package graft.api

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, OffsetDateTime}
import java.util.Base64
import java.util.concurrent.LinkedBlockingQueue

import graft.engine.{Codec, FossilSchema}

/** One parsed wire entry — the client-side analog of the reference's
  * `Entry` + `ParseEntry` (`pkg/database/result.go:24-50`): an RFC3339Nano
  * time, topic, raw wire bytes and schema DDL, split from the TAB line. */
final case class WireEntry(time: Instant, topic: String, data: Array[Byte], schema: String) {
  /** The JVM value the wire bytes encode, via the schema codec
    * (string/long/double/boolean/Seq/Map per [[graft.engine.Codec]]);
    * null for empty data (ambiguous-schema scans surface opaque nulls). */
  def decoded: Any =
    if (data.isEmpty) null else Codec.decode(FossilSchema.parse(schema), data)
}

object WireEntry {
  /** `time \t topic \t base64 \t schema` → entry (ParseEntry analog). */
  def parse(line: String): WireEntry = {
    val parts = line.split("\t", -1)
    require(parts.length >= 4, s"malformed entry, expected 4 parts got ${parts.length}")
    WireEntry(OffsetDateTime.parse(parts(0)).toInstant, parts(1),
      Base64.getDecoder.decode(parts(2)), parts(3))
  }
}

/** Server-reported error (non-OK response), carrying the wire code. */
final class WireException(val code: Int, message: String)
  extends RuntimeException(s"[$code] $message")

/** Wire client for a [[WireServer]] — the analog of the reference's
  * `RemoteClient` (`api/remote.go`): a pool of `poolSize` TCP connections
  * (`Open`, `api/remote.go:88-106`), each handshaking VERSION + USE on
  * connect (`connect`, `api/remote.go:27-61`), with reconnect + exponential
  * backoff and a bounded resend on connection loss (`Send`,
  * `api/remote.go:118-162`; backoff 2^i · base, `reconnectWithBackoff`
  * `api/remote.go:63-86`). Commands mirror SURVEY §2.6:
  * [[version]] / [[use]] / [[query]] / [[append]] / [[create]] /
  * [[list]] / [[stats]].
  *
  * Thread safety: connections are borrowed from the pool per send, so
  * concurrent callers are safe up to `poolSize` in flight (the reference's
  * channel pool semantics); [[use]] and [[close]] drain the FULL pool
  * (blocking until in-flight requests return their connections) so no
  * connection can keep a stale database binding or survive shutdown.
  *
  * Delivery semantics (same as the reference): the resend-after-reconnect
  * path makes every command AT-LEAST-ONCE — an APPEND/CREATE whose
  * connection died after the server applied it but before the OK arrived
  * is applied again on resend. Callers needing exactly-once ingest should
  * use the DataFrame path ([[LocalClient.appendFrame]] / streaming sink),
  * whose commit protocol deduplicates. A request that exhausts its
  * reconnect budget returns its (dead) socket to the pool as a sentinel:
  * the next request on that slot fails the first write instantly and
  * enters the same reconnect path, so the pool self-heals once the server
  * is back. This is a client transport — query results materialize on the
  * caller like the reference's `database.Entries`; bulk analytics belong
  * on the DataFrame API.
  */
final class RemoteClient(
    host: String, port: Int, db: String = ConnectionString.DefaultDb,
    poolSize: Int = 2, maxReconnects: Int = 3, backoffBaseMs: Long = 1000,
    maxFrameBytes: Int = WireServer.MaxMessageBytes) {

  def this(target: ConnectionString.Remote) = this(target.host, target.port, target.db)

  import WireServer.{readMessage, writeMessage}

  @volatile private var currentDb = db
  @volatile private var handshakeVersion: String = ""
  @volatile private var closed = false
  private val poolCount = math.max(1, poolSize)
  private[api] val pool = new LinkedBlockingQueue[Socket]()
  // serializes full-pool drains (use/close): two concurrent drains would
  // each take part of the pool and deadlock waiting for the other's half
  private val drainLock = new Object
  locally {
    // if connection N fails, close 1..N-1 instead of leaking them (and
    // their server-side sessions) from an abandoned half-built pool
    val made = scala.collection.mutable.ArrayBuffer.empty[Socket]
    try (0 until poolCount).foreach(_ => made += connect())
    catch {
      case e: Throwable =>
        made.foreach(s => try s.close() catch { case _: IOException => () })
        throw e
    }
    made.foreach(pool.offer(_))
  }

  /** Dial + VERSION/USE handshake (reference `connect`). */
  private def connect(): Socket = {
    val sock = new Socket(host, port)
    try {
      sock.setTcpNoDelay(true)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      writeMessage(out, "VERSION", Array.emptyByteArray)
      val (vc, vp) = readMessage(in)
      val (vcode, vmsg) = okFields(vp)
      if (vc != "OK" || vcode != 200)
        throw new IOException(s"server rejected client version: [$vcode] $vmsg")
      handshakeVersion = vmsg
      writeMessage(out, "USE", currentDb.getBytes(UTF_8))
      val (uc, up) = readMessage(in)
      if (uc != "OK") { val (c, m) = okFields(up); throw new WireException(c, m) }
      sock
    } catch { case e: Throwable => sock.close(); throw e }
  }

  private def reconnectWithBackoff(): Socket = {
    var last: Throwable = null
    var i = 0
    while (i < maxReconnects) {
      Thread.sleep(backoffBaseMs << i) // 2^i · base, like the reference's 2^i s
      try return connect()
      catch { case e: Exception => last = e }
      i += 1
    }
    throw new IOException(s"reconnect failed after $maxReconnects attempts", last)
  }

  /** Borrow a pooled connection, send, read the reply; on connection loss
    * reconnect with backoff and resend (bounded — a request is retried at
    * most `maxReconnects` times, each on a fresh connection). */
  private def send(cmd: String, payload: Array[Byte]): (String, Array[Byte]) = {
    // poll-with-recheck instead of a bare take(): a send that passes the
    // `closed` check just before close() drains the pool would otherwise
    // block forever on an empty pool — close() never returns the sockets.
    var sock: Socket = null
    while (sock == null) {
      if (closed) throw new IllegalStateException("client is closed")
      sock = pool.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    try {
      var attempt = 0
      while (true) {
        try {
          writeMessage(new DataOutputStream(sock.getOutputStream), cmd, payload)
          val in = new DataInputStream(sock.getInputStream)
          val length = in.readInt()
          if (length > maxFrameBytes) {
            // Receiver-side frame cap: the reference enforces its 100 MiB
            // limit only on READ (pkg/proto/message.go:96-98), so a live
            // upstream server happily SENDS a bigger frame. The body is
            // unread — the stream is poisoned — so close the socket, heal
            // the pool slot, and surface the same typed 507 our own
            // WireServer emits pre-emptively; callers' window-split logic
            // (WireImport) then works against upstream servers too. No
            // resend: the same request would get the same oversized reply.
            try sock.close() catch { case _: IOException => () }
            sock = try reconnectWithBackoff()
              catch { case _: Exception => sock } // dead-slot sentinel self-heals
            throw new WireException(507,
              s"response frame of $length bytes exceeds the client's " +
                s"$maxFrameBytes-byte receive cap; narrow the query")
          }
          if (length < 8) throw new IOException(s"bad message length $length")
          return WireServer.readBody(in, length)
        } catch {
          case e: IOException =>
            attempt += 1
            if (attempt > maxReconnects) throw e
            try sock.close() catch { case _: IOException => () }
            sock = reconnectWithBackoff()
        }
      }
      throw new IllegalStateException("unreachable")
    } finally pool.offer(sock)
    // offer, NEVER put: the queue is unbounded so offer always succeeds
    // via a plain (uninterruptible) lock, while put acquires its lock
    // INTERRUPTIBLY — a caller thread cancelled mid-request (e.g.
    // WireImport's shutdownNow on a sibling failure) reaches this finally
    // with its interrupt flag set, and put would throw instead of
    // returning the socket, silently shrinking the pool until close()
    // blocks forever on the missing slot (found as a real deadlock in the
    // concurrent-import crash test).
  }

  private def okFields(payload: Array[Byte]): (Int, String) = {
    val buf = ByteBuffer.wrap(payload)
    val code = buf.getInt
    (code, new String(payload, 4, payload.length - 4, UTF_8))
  }

  /** Send and unwrap: OK → payload; ERR → [[WireException]]. */
  private def expectOk(cmd: String, payload: Array[Byte]): Array[Byte] = {
    val (respCmd, resp) = send(cmd, payload)
    if (respCmd == "OK") resp
    else { val (code, msg) = okFields(resp); throw new WireException(code, msg) }
  }

  private def countPrefixedLines(payload: Array[Byte]): Seq[String] = {
    val buf = ByteBuffer.wrap(payload)
    val n = buf.getInt
    (0 until n).map { _ =>
      val len = buf.getInt
      val b = new Array[Byte](len)
      buf.get(b)
      new String(b, UTF_8)
    }
  }

  /** Server version string from the VERSION handshake. */
  def version: String = handshakeVersion

  /** Number of pooled connections — the client's natural request
    * concurrency (callers fanning work out get one in-flight request per
    * connection; more threads than this just queue on the pool). */
  def poolConnections: Int = poolCount

  private def sendUseOn(sock: Socket, name: String): Unit = {
    writeMessage(new DataOutputStream(sock.getOutputStream), "USE", name.getBytes(UTF_8))
    val (c, p) = readMessage(new DataInputStream(sock.getInputStream))
    if (c != "OK") { val (code, msg) = okFields(p); throw new WireException(code, msg) }
  }

  /** USE: switch the session database on EVERY pooled connection (and for
    * future reconnects). Drains the full pool — blocking until in-flight
    * requests return — so no connection can keep the old binding. A dead
    * socket in a slot (the sentinel an exhausted [[send]] leaves) is
    * replaced through the reconnect path rather than failing the switch.
    * On a SERVER-side rejection (e.g. unknown db) the already-switched
    * connections are rolled back and `currentDb` is left unchanged, so
    * reconnect handshakes keep working against the last database that was
    * successfully in use. */
  def use(name: String): Unit = drainLock.synchronized {
    if (closed) throw new IllegalStateException("client is closed")
    val old = currentDb
    val held = scala.collection.mutable.ArrayBuffer.fill(poolCount)(pool.take())
    try {
      val switchedIx = scala.collection.mutable.ArrayBuffer.empty[Int]
      try {
        held.indices.foreach { i =>
          try sendUseOn(held(i), name)
          catch {
            case _: IOException =>
              // dead slot: heal it (connect() handshakes USE currentDb=old),
              // then apply the requested switch on the fresh socket
              try held(i).close() catch { case _: IOException => () }
              held(i) = reconnectWithBackoff()
              sendUseOn(held(i), name)
          }
          switchedIx += i
        }
        currentDb = name
      } catch {
        case e: Throwable =>
          // roll the already-switched sockets back to the old binding. A
          // socket whose ROLLBACK also fails must not reach the pool still
          // bound to the new db (later sends would silently hit the wrong
          // database): close it and replace via reconnectWithBackoff(),
          // whose handshake USEs currentDb — still `old` here. If even the
          // reconnect fails, the closed socket stays in the slot as the
          // documented dead-slot sentinel and self-heals on next use.
          switchedIx.foreach { i =>
            try sendUseOn(held(i), old)
            catch {
              case _: Exception =>
                try held(i).close() catch { case _: IOException => () }
                try held(i) = reconnectWithBackoff()
                catch { case _: Exception => () }
            }
          }
          throw e
      }
    } finally held.foreach(pool.offer(_))
  }

  /** QUERY: FQL in, parsed entries out (reference `Query`,
    * `api/remote.go:186-210`). */
  def query(fql: String): Seq[WireEntry] =
    countPrefixedLines(expectOk("QUERY", fql.getBytes(UTF_8))).map(WireEntry.parse)

  /** APPEND raw wire bytes to a topic (reference `Append`,
    * `api/remote.go:164-184`); payload `[u32 topic-len][topic][bytes]`
    * (`pkg/proto/message.go:382-405`). Bytes must validate against the
    * topic schema — the server's schema-on-append gate rejects otherwise. */
  def append(topic: String, data: Array[Byte]): Unit = {
    expectOk("APPEND", WireServer.lengthPrefixed(topic, data))
    ()
  }

  /** CREATE a topic with a schema DDL. */
  def create(topic: String, ddl: String = "string"): Unit = {
    expectOk("CREATE", WireServer.lengthPrefixed(topic, ddl.getBytes(UTF_8)))
    ()
  }

  /** LIST topics as `(topic, schema ddl)`. */
  def listTopics: Seq[(String, String)] =
    countPrefixedLines(expectOk("LIST", Array.emptyByteArray)).map { line =>
      line.split(" ", 2) match {
        case Array(t, ddl) => (t, ddl)
        case Array(t) => (t, "string")
      }
    }

  /** LIST databases: the server's attached store names
    * (`pkg/server/response.go:38-44` dbMap enumeration). */
  def listDatabases: Seq[String] =
    countPrefixedLines(expectOk("LIST", "databases".getBytes(UTF_8)))

  /** STATS lines (`topic n=... first=... last=...`). */
  def stats(): Seq[String] =
    countPrefixedLines(expectOk("STATS", Array.emptyByteArray))

  /** METRICS: the server's Prometheus text exposition (connection counter,
    * per-(db,cmd) request counters, response-time histogram — the
    * reference registry, `pkg/server/metrics.go:19-28`). */
  def metricsText(): String = {
    val payload = expectOk("METRICS", Array.emptyByteArray)
    new String(payload, 4, payload.length - 4, UTF_8) // skip the u32 code
  }

  /** Close every pooled connection; blocks until in-flight requests return
    * theirs. Idempotent; subsequent sends fail fast instead of blocking on
    * an empty pool. */
  def close(): Unit = drainLock.synchronized {
    if (closed) return
    closed = true
    // bounded wait per slot, purely defensive: with the offer-based
    // give-back the pool count is invariant, but teardown must never be
    // able to hang the caller on a miscounted pool — a slot that does not
    // surface within the timeout is abandoned (its socket dies with the
    // process or its in-flight request's own finally)
    val held = (0 until poolCount).flatMap(_ =>
      Option(pool.poll(10, java.util.concurrent.TimeUnit.SECONDS)))
    held.foreach(s => try s.close() catch { case _: IOException => () })
  }
}

package graft.api

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Queries
import graft.SparkSpec
import graft.engine.{Codec, FossilSchema}
import graft.fql.Compiler

/** Socket smoke test for the S7 wire front-end: frames a real TCP
  * round-trip of VERSION / CREATE / APPEND / QUERY / LIST / USE in the
  * reference's message shape (`pkg/proto/message.go:80-113`). */
class WireServerSpec extends SparkSpec {

  private val fixedClock: Compiler.Clock = () => 1735689600L * 1000000000L

  private def send(out: DataOutputStream, cmd: String, payload: Array[Byte]): Unit =
    WireServer.writeMessage(out, cmd, payload)

  private def recv(in: DataInputStream): (String, Array[Byte]) =
    WireServer.readMessage(in)

  private def codeOf(payload: Array[Byte]): Int = ByteBuffer.wrap(payload).getInt

  private def withTopic(topic: String, rest: Array[Byte]): Array[Byte] = {
    val t = topic.getBytes(StandardCharsets.UTF_8)
    val b = ByteBuffer.allocate(4 + t.length + rest.length)
    b.putInt(t.length).put(t).put(rest)
    b.array()
  }

  test("wire round-trip: VERSION, CREATE, APPEND, QUERY, LIST, USE") {
    val rootA = Queries.scratchDir("graft_wire_a")
    val rootB = Queries.scratchDir("graft_wire_b")
    val server = new WireServer(spark, Map("a" -> rootA, "b" -> rootB), "a", fixedClock)
    try {
      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)

      send(out, "VERSION", Array.emptyByteArray)
      val (vc, vp) = recv(in)
      assert(vc == "OK" && codeOf(vp) == 200)
      assert(new String(vp.drop(4), StandardCharsets.UTF_8) == WireServer.Version)

      send(out, "CREATE", withTopic("/wire/t", "float64".getBytes(StandardCharsets.UTF_8)))
      assert(codeOf(recv(in)._2) == 200)

      // schema-on-append gate over the wire: 3 bytes into float64 → ERR
      send(out, "APPEND", withTopic("/wire/t", Array[Byte](1, 2, 3)))
      val (ec, ep) = recv(in)
      assert(ec == "ERR" && codeOf(ep) == 500)

      val bytes = Codec.encode(FossilSchema.SFloat64, 42.5)
      send(out, "APPEND", withTopic("/wire/t", bytes))
      assert(codeOf(recv(in)._2) == 200)

      send(out, "QUERY", "all in /wire/t".getBytes(StandardCharsets.UTF_8))
      val (qc, qp) = recv(in)
      assert(qc == "OK")
      val buf = ByteBuffer.wrap(qp)
      assert(buf.getInt == 1) // one entry
      val line = new Array[Byte](buf.getInt)
      buf.get(line)
      val parts = new String(line, StandardCharsets.UTF_8).split("\t")
      assert(parts.length == 4)
      assert(parts(1) == "/wire/t" && parts(3) == "float64")
      // entry data is the fossil wire encoding of the stored value
      assert(Base64.getDecoder.decode(parts(2)).sameElements(bytes))

      send(out, "LIST", Array.emptyByteArray)
      val (_, lp) = recv(in)
      val lbuf = ByteBuffer.wrap(lp)
      val n = lbuf.getInt
      val items = (0 until n).map { _ =>
        val s = new Array[Byte](lbuf.getInt); lbuf.get(s)
        new String(s, StandardCharsets.UTF_8)
      }
      assert(items.exists(_.startsWith("/wire/t ")))

      // LIST databases enumerates the server's store registry
      // (pkg/server/response.go:38-44 dbMap parity)
      send(out, "LIST", "databases".getBytes(StandardCharsets.UTF_8))
      val (_, dp) = recv(in)
      val dbuf = ByteBuffer.wrap(dp)
      val dn = dbuf.getInt
      val dbs = (0 until dn).map { _ =>
        val s = new Array[Byte](dbuf.getInt); dbuf.get(s)
        new String(s, StandardCharsets.UTF_8)
      }
      assert(dbs == Seq("a", "b"))

      send(out, "STATS", Array.emptyByteArray)
      val (_, sp) = recv(in)
      val sbuf = ByteBuffer.wrap(sp)
      val sn = sbuf.getInt
      val statLines = (0 until sn).map { _ =>
        val s = new Array[Byte](sbuf.getInt); sbuf.get(s)
        new String(s, StandardCharsets.UTF_8)
      }
      assert(statLines.exists(l => l.startsWith("/wire/t ") && l.contains("n=1")))

      // USE switches the per-connection store: /wire/t is invisible in b
      send(out, "USE", "b".getBytes(StandardCharsets.UTF_8))
      val (uc, up) = recv(in)
      assert(uc == "OK" && codeOf(up) == 201) // "database changed"
      send(out, "QUERY", "all in /wire/t".getBytes(StandardCharsets.UTF_8))
      val (qc2, qp2) = recv(in)
      assert(qc2 == "OK" && ByteBuffer.wrap(qp2).getInt == 0)

      send(out, "FROB", Array.emptyByteArray)
      val (xc, xp) = recv(in)
      assert(xc == "ERR" && codeOf(xp) == 501) // command not found

      sock.close()
    } finally server.close()
  }

  test("fire-and-forget mode: appends succeed, reads rejected, per-connection") {
    val root = Queries.scratchDir("graft_wire_ff")
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    try {
      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)

      send(out, "MODE", "fire-and-forget".getBytes(StandardCharsets.UTF_8))
      assert(codeOf(recv(in)._2) == 200)

      // write path stays open: CREATE + APPEND land
      send(out, "CREATE", withTopic("/ff/t", "float64".getBytes(StandardCharsets.UTF_8)))
      assert(codeOf(recv(in)._2) == 200)
      send(out, "APPEND", withTopic("/ff/t", Codec.encode(FossilSchema.SFloat64, 7.5)))
      assert(codeOf(recv(in)._2) == 200)

      // read commands rejected with the reference ERR shape (code + text)
      for (read <- Seq("QUERY" -> "all in /ff/t", "LIST" -> "", "STATS" -> "",
          "METRICS" -> "")) {
        send(out, read._1, read._2.getBytes(StandardCharsets.UTF_8))
        val (c, p) = recv(in)
        assert(c == "ERR", s"${read._1} should be rejected")
        assert(codeOf(p) == 403)
        assert(new String(p.drop(4), StandardCharsets.UTF_8)
          .contains("fire-and-forget"))
      }

      // the mode is per-CONNECTION: a second active connection still reads
      val sock2 = new Socket("127.0.0.1", server.port)
      val out2 = new DataOutputStream(sock2.getOutputStream)
      val in2 = new DataInputStream(sock2.getInputStream)
      send(out2, "QUERY", "all in /ff/t".getBytes(StandardCharsets.UTF_8))
      val (qc, qp) = recv(in2)
      assert(qc == "OK" && ByteBuffer.wrap(qp).getInt == 1)
      sock2.close()

      // switching back to active re-opens reads on the same connection
      send(out, "MODE", "active".getBytes(StandardCharsets.UTF_8))
      assert(codeOf(recv(in)._2) == 200)
      send(out, "LIST", Array.emptyByteArray)
      assert(recv(in)._1 == "OK")

      // unknown mode → 400
      send(out, "MODE", "turbo".getBytes(StandardCharsets.UTF_8))
      val (mc, mp) = recv(in)
      assert(mc == "ERR" && codeOf(mp) == 400)
      sock.close()
    } finally server.close()
  }

  test("array values round-trip over the wire with per-row resolved length") {
    val root = Queries.scratchDir("graft_wire_arr")
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    try {
      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      send(out, "CREATE", withTopic("/vec", "[4]float64".getBytes(StandardCharsets.UTF_8)))
      assert(codeOf(recv(in)._2) == 200)
      val arr = Seq(1.5, -2.0, 0.0, 3.25)
      val bytes = Codec.encode(FossilSchema.parse("[4]float64"), arr)
      send(out, "APPEND", withTopic("/vec", bytes))
      assert(codeOf(recv(in)._2) == 200)
      send(out, "QUERY", "all in /vec".getBytes(StandardCharsets.UTF_8))
      val (qc, qp) = recv(in)
      assert(qc == "OK", s"got $qc: ${new String(qp.drop(4), StandardCharsets.UTF_8)}")
      val buf = ByteBuffer.wrap(qp)
      assert(buf.getInt == 1)
      val line = new Array[Byte](buf.getInt); buf.get(line)
      val parts = new String(line, StandardCharsets.UTF_8).split("\t")
      assert(parts(3) == "[4]float64") // Spark's ArrayType length resolved per row
      assert(Base64.getDecoder.decode(parts(2)).sameElements(bytes))
      sock.close()
    } finally server.close()
  }

  test("oversized query responses fail with a typed cap error, not an OOM") {
    val root = Queries.scratchDir("graft_wire_cap")
    // 64-byte cap: even two entries overflow it
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock,
      maxResponseBytes = 64)
    try {
      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      send(out, "CREATE", withTopic("/big", "float64".getBytes(StandardCharsets.UTF_8)))
      assert(codeOf(recv(in)._2) == 200)
      (1 to 5).foreach { i =>
        send(out, "APPEND", withTopic("/big", Codec.encode(FossilSchema.SFloat64, i.toDouble)))
        assert(codeOf(recv(in)._2) == 200)
      }
      send(out, "QUERY", "all in /big".getBytes(StandardCharsets.UTF_8))
      val (c, p) = recv(in)
      assert(c == "ERR" && codeOf(p) == 507)
      // the connection survives an overflowed query
      send(out, "VERSION", Array.emptyByteArray)
      assert(codeOf(recv(in)._2) == 200)
      sock.close()
    } finally server.close()
  }

  test("connections share one catalog per store (no lost updates)") {
    val root = Queries.scratchDir("graft_wire_shared")
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    try {
      // conn2 connects FIRST — with per-connection stores its stale
      // catalog snapshot would erase conn1's topic on the next persist
      val s1 = new Socket("127.0.0.1", server.port)
      val s2 = new Socket("127.0.0.1", server.port)
      val (o1, i1) = (new DataOutputStream(s1.getOutputStream), new DataInputStream(s1.getInputStream))
      val (o2, i2) = (new DataOutputStream(s2.getOutputStream), new DataInputStream(s2.getInputStream))
      send(o1, "CREATE", withTopic("/from1", "int64".getBytes(StandardCharsets.UTF_8)))
      assert(codeOf(recv(i1)._2) == 200)
      send(o2, "CREATE", withTopic("/from2", "int64".getBytes(StandardCharsets.UTF_8)))
      assert(codeOf(recv(i2)._2) == 200)
      send(o1, "LIST", Array.emptyByteArray)
      val (_, lp) = recv(i1)
      val lbuf = ByteBuffer.wrap(lp)
      val items = (0 until lbuf.getInt).map { _ =>
        val s = new Array[Byte](lbuf.getInt); lbuf.get(s)
        new String(s, StandardCharsets.UTF_8)
      }
      assert(items.exists(_.startsWith("/from1 ")) && items.exists(_.startsWith("/from2 ")))
      s1.close(); s2.close()
    } finally server.close()
  }

  test("metrics: counters and histogram advance across a command sequence; " +
      "METRICS wire command and /metrics HTTP endpoint render them") {
    val root = Queries.scratchDir("graft_wire_metrics")
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock,
      metricsPort = 0)
    try {
      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)

      send(out, "VERSION", Array.emptyByteArray); recv(in)
      send(out, "CREATE", withTopic("/m/t", "float64".getBytes(StandardCharsets.UTF_8)))
      recv(in)
      send(out, "APPEND", withTopic("/m/t", Codec.encode(FossilSchema.SFloat64, 1.5)))
      recv(in)
      send(out, "QUERY", "all in /m/t".getBytes(StandardCharsets.UTF_8)); recv(in)
      // a failing request must be counted too (reference counts in the
      // request loop, pkg/server/server.go:74-77) — and the wire ERR for a
      // syntax error carries the caret-formatted rendering
      send(out, "QUERY", "all and then garbage".getBytes(StandardCharsets.UTF_8))
      val (qc, qp) = recv(in)
      assert(qc == "ERR")
      val errMsg = new String(qp.drop(4), StandardCharsets.UTF_8)
      assert(errMsg.contains("Syntax error found in query:"))
      assert(errMsg.contains("all and then garbage"))
      assert(errMsg.contains("    ^~~ "), s"no caret underline in: $errMsg")

      // all five prior requests were recorded by the time the server
      // serves the NEXT command on this connection
      send(out, "METRICS", Array.emptyByteArray)
      val (mc, mp) = recv(in)
      assert(mc == "OK" && codeOf(mp) == 200)
      val text = new String(mp.drop(4), StandardCharsets.UTF_8)
      assert(text.contains("fossil_client_connections 1"))
      assert(text.contains("""fossil_requests{database="a",cmd="VERSION"} 1"""))
      assert(text.contains("""fossil_requests{database="a",cmd="QUERY"} 2"""))
      assert(text.contains("""fossil_response_ns_count{database="a",cmd="QUERY"} 2"""))
      assert(text.contains("""fossil_response_ns_bucket{database="a",cmd="QUERY",le="+Inf"} 2"""))
      // the reference's 2ms..38ms ladder is present
      assert(text.contains("""le="2000000""""))
      assert(text.contains("""le="38000000""""))

      // typed accessors agree
      assert(server.metrics.connectionCount == 1)
      assert(server.metrics.requestCount("a", "QUERY") == 2)
      assert(server.metrics.responseCount("a", "QUERY") == 2)
      assert(server.metrics.responseSumNs("a", "QUERY") > 0)

      // unknown commands collapse into one fixed label — the client
      // controls the command bytes, and per-value counters would be an
      // unbounded-cardinality memory DoS on a long-lived server
      send(out, "BOGUS1", Array.emptyByteArray); recv(in)
      send(out, "BOGUS2", Array.emptyByteArray); recv(in)
      send(out, "METRICS", Array.emptyByteArray)
      val afterBogus = new String(recv(in)._2.drop(4), StandardCharsets.UTF_8)
      assert(server.metrics.requestCount("a", "UNKNOWN") == 2)
      assert(server.metrics.requestCount("a", "BOGUS1") == 0)
      assert(!afterBogus.contains("BOGUS"))

      // HTTP scrape endpoint (promhttp analog) serves the same exposition
      assert(server.httpMetricsPort > 0)
      // ...and binds LOOPBACK by default: the scrape exposes db names and
      // traffic shape, so the wildcard address must be an explicit opt-in
      assert(server.httpMetricsAddress.exists(_.isLoopbackAddress),
        s"metrics endpoint bound ${server.httpMetricsAddress}, not loopback")
      val url = new java.net.URI(
        s"http://127.0.0.1:${server.httpMetricsPort}/metrics").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/plain"))
      val http = new String(conn.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      assert(http.contains("fossil_client_connections 1"))
      assert(http.contains("# TYPE fossil_response_ns histogram"))

      // RemoteClient surface
      val rc = new RemoteClient("127.0.0.1", server.port, "a")
      val viaClient = rc.metricsText()
      assert(viaClient.contains("fossil_requests"))
      rc.close()
      sock.close()
    } finally server.close()
  }

  test("response histogram: one increment in the first holding bucket, " +
      "cumulated at render; above-ladder observations land only in +Inf") {
    val m = new ServerMetrics
    m.observeResponseNs("db", "QUERY", 1000000L)   // 1 ms → le=2ms bucket
    m.observeResponseNs("db", "QUERY", 2000000L)   // exactly 2 ms → ns <= le holds
    m.observeResponseNs("db", "QUERY", 3000000L)   // 3 ms → le=4ms bucket
    m.observeResponseNs("db", "QUERY", 100000000L) // 100 ms → beyond the 38ms ladder
    val r = m.render
    def bucket(le: String) =
      s"""fossil_response_ns_bucket{database="db",cmd="QUERY",le="$le"}"""
    assert(r.contains(bucket("2000000") + " 2"))
    assert(r.contains(bucket("4000000") + " 3"))
    // every later bucket repeats the cumulative 3 (nothing lands between
    // 4ms and the ladder top), and +Inf carries the full count — the
    // first-holding-bucket increment must not double-count into each
    // later bucket (round-8 ADVICE: the scan-all-buckets defect)
    assert(r.contains(bucket("38000000") + " 3"))
    assert(r.contains(bucket("+Inf") + " 4"))
    assert(r.contains("""fossil_response_ns_count{database="db",cmd="QUERY"} 4"""))
    assert(r.contains("""fossil_response_ns_sum{database="db",cmd="QUERY"} 106000000"""))
  }

  test("per-database shape gauges track CREATE/APPEND across two stores; " +
      "JVM runtime section renders in METRICS and /metrics") {
    val rootA = Queries.scratchDir("graft_wire_shape_a")
    val rootB = Queries.scratchDir("graft_wire_shape_b")
    val server = new WireServer(spark, Map("a" -> rootA, "b" -> rootB), "a",
      fixedClock, metricsPort = 0)
    try {
      // both stores are registered and empty before any traffic —
      // collectors are scrape-time reads of the store, not pushed counters
      val t0 = server.metrics.render
      assert(t0.contains("""fossil_database_segments{db_name="a"} 0"""))
      assert(t0.contains("""fossil_database_segments{db_name="b"} 0"""))
      assert(t0.contains("""fossil_database_topics{db_name="a"} 0"""))
      assert(t0.contains("""fossil_database_topics{db_name="b"} 0"""))

      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)

      send(out, "CREATE", withTopic("/shape/one", "float64".getBytes(StandardCharsets.UTF_8)))
      assert(codeOf(recv(in)._2) == 200)
      send(out, "CREATE", withTopic("/shape/two", "int64".getBytes(StandardCharsets.UTF_8)))
      assert(codeOf(recv(in)._2) == 200)
      send(out, "APPEND", withTopic("/shape/one", Codec.encode(FossilSchema.SFloat64, 1.5)))
      assert(codeOf(recv(in)._2) == 200)
      send(out, "USE", "b".getBytes(StandardCharsets.UTF_8))
      assert(codeOf(recv(in)._2) == 201)
      send(out, "CREATE", withTopic("/other", "string".getBytes(StandardCharsets.UTF_8)))
      assert(codeOf(recv(in)._2) == 200)

      send(out, "METRICS", Array.emptyByteArray)
      val text = new String(recv(in)._2.drop(4), StandardCharsets.UTF_8)
      assert(text.contains("# TYPE fossil_database_segments gauge"))
      assert(text.contains("# TYPE fossil_database_topics gauge"))
      assert(text.contains("""fossil_database_topics{db_name="a"} 2"""))
      assert(text.contains("""fossil_database_topics{db_name="b"} 1"""))
      // a has data files from the append; b has only catalog metadata
      val segA = server.metrics.render.linesIterator
        .find(_.startsWith("""fossil_database_segments{db_name="a"}"""))
        .map(_.split(' ').last.toLong).get
      assert(segA >= 1, s"expected >=1 segment in a, got $segA")
      assert(text.contains("""fossil_database_segments{db_name="b"} 0"""))

      // a second append lands at least one more immutable file
      send(out, "USE", "a".getBytes(StandardCharsets.UTF_8))
      assert(codeOf(recv(in)._2) == 201)
      send(out, "APPEND", withTopic("/shape/one", Codec.encode(FossilSchema.SFloat64, 2.5)))
      assert(codeOf(recv(in)._2) == 200)
      send(out, "METRICS", Array.emptyByteArray)
      val after = new String(recv(in)._2.drop(4), StandardCharsets.UTF_8)
      val segA2 = after.linesIterator
        .find(_.startsWith("""fossil_database_segments{db_name="a"}"""))
        .map(_.split(' ').last.toLong).get
      assert(segA2 > segA, s"segments did not grow: $segA -> $segA2")

      // JVM runtime section — the Go-collector analog
      // (pkg/server/metrics.go:43-47) — is part of every scrape
      assert(after.contains("# TYPE jvm_memory_heap_used_bytes gauge"))
      val heapUsed = after.linesIterator
        .find(_.startsWith("jvm_memory_heap_used_bytes "))
        .map(_.split(' ').last.toLong).get
      assert(heapUsed > 0)
      assert(after.contains("# TYPE jvm_gc_collections_total counter"))
      assert(after.contains("jvm_gc_collection_time_ms_total{gc="))
      val threadsNow = after.linesIterator
        .find(_.startsWith("jvm_threads_current "))
        .map(_.split(' ').last.toLong).get
      assert(threadsNow > 0)

      // the HTTP scrape carries the same sections
      val url = new java.net.URI(
        s"http://127.0.0.1:${server.httpMetricsPort}/metrics").toURL
      val http = new String(url.openStream().readAllBytes(), StandardCharsets.UTF_8)
      assert(http.contains("""fossil_database_topics{db_name="a"} 2"""))
      assert(http.contains("jvm_memory_heap_used_bytes "))
      sock.close()
    } finally server.close()
  }

  test("QUERY of a reduce pipeline: one N/A entry at Go's zero time carrying the result") {
    val root = Queries.scratchDir("graft_wire_reduce")
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    val client = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
    try {
      client.create("/red", "float64")
      Seq(1.5, 2.5, 3.5).foreach(v => client.append("/red", Codec.encode(FossilSchema.SFloat64, v)))
      // agg-shaped (native aggregate) and general-fold reduces both emit a
      // synthetic entry with a null time
      val Seq(count) = client.query("all in /red | map e -> 1 | reduce a, b -> a + b")
      assert(count.topic == "N/A" && count.decoded == 3L)
      assert(count.time == java.time.Instant.parse("0001-01-01T00:00:00Z"))
      val Seq(product) = client.query("all in /red | reduce a, b -> a * b")
      assert(product.topic == "N/A" && product.decoded == 1.5 * 2.5 * 3.5)
      assert(product.time == count.time)
    } finally { client.close(); server.close() }
  }

  test("wire APPENDs land without a Spark job") {
    val root = Queries.scratchDir("graft_wire_nojob")
    val (jobs, _) = wireJobs(root) { client =>
      client.create("/nj", "float64")
      (1 to 3).foreach(i => client.append(s"/nj/t$i", Codec.encode(FossilSchema.SFloat64, i.toDouble)))
      client.append("/nj/t1", Codec.encode(FossilSchema.SFloat64, 4.0))
    }
    assert(jobs == 0)
    val (_, got) = wireJobs(root)(_.query("all in /nj"))
    assert(got.map(_.decoded).toSet == Set(1.0, 2.0, 3.0, 4.0))
  }

  test("a wire frame up to 64 KiB goes out in one socket write") {
    class Counting extends java.io.ByteArrayOutputStream {
      var writes = 0
      override def write(b: Int): Unit = { writes += 1; super.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        writes += 1; super.write(b, off, len)
      }
    }
    def framed(payload: Array[Byte]): (Int, (String, Array[Byte])) = {
      val sink = new Counting
      send(new DataOutputStream(sink), "APPEND", payload)
      (sink.writes, recv(new DataInputStream(
        new java.io.ByteArrayInputStream(sink.toByteArray))))
    }
    val small = Array.tabulate[Byte](1024)(_.toByte)
    val (n, (cmd, back)) = framed(small)
    assert(n == 1)
    assert(cmd == "APPEND" && back.sameElements(small))
    // past the single-write size: the 12-byte head, then the payload
    val big = Array.tabulate[Byte](64 * 1024)(_.toByte)
    val (nBig, (cmdBig, backBig)) = framed(big)
    assert(nBig == 2)
    assert(cmdBig == "APPEND" && backBig.sameElements(big))
  }

  test("both ends of a live wire connection disable Nagle (TCP_NODELAY)") {
    val root = Queries.scratchDir("graft_wire_nodelay")
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    val client = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
    try {
      // the handshake has been answered, so the server side is set up
      assert(client.pool.size == 1 && client.pool.peek().getTcpNoDelay)
      assert(server.conns.size == 1)
      server.conns.forEach(sock => assert(sock.getTcpNoDelay))
    } finally { client.close(); server.close() }
  }

  /** A clock one minute further on at every read, from 2025-01-01. */
  private def tickingClock(): Compiler.Clock = {
    val minutes = new java.util.concurrent.atomic.AtomicLong(0)
    () => 1735689600L * 1000000000L + minutes.getAndIncrement() * 60L * 1000000000L
  }

  /** A store root holding `values` under `topic` (schema `ddl`), one file
    * per wire APPEND, each at its own minute. */
  private def filledRoot(prefix: String, topic: String, ddl: String,
      values: Seq[Array[Byte]]): String = {
    val root = Queries.scratchDir(prefix)
    fill(root, Seq((topic, ddl, values)))
    root
  }

  private def fill(root: String, topics: Seq[(String, String, Seq[Array[Byte]])]): Unit = {
    val server = new WireServer(spark, Map("a" -> root), "a", tickingClock())
    val client = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
    try topics.foreach { case (topic, ddl, values) =>
      client.create(topic, ddl)
      values.foreach(client.append(topic, _))
    } finally { client.close(); server.close() }
  }

  private def f64s(n: Int): Seq[Array[Byte]] =
    (1 to n).map(i => Codec.encode(FossilSchema.SFloat64, i.toDouble))

  /** `rows` of `df` as a QUERY body: the count, then each entry line. */
  private def entryBody(df: DataFrame, rows: Seq[Row]): Array[Byte] = {
    val schema = FossilSchema.fromSpark(df.schema("value").dataType)
    val body = new java.io.ByteArrayOutputStream()
    val bo = new DataOutputStream(body)
    bo.writeInt(rows.size)
    rows.foreach { r =>
      val line = WireServer.entryLine(r, schema).getBytes(StandardCharsets.UTF_8)
      bo.writeInt(line.length)
      bo.write(line)
    }
    body.toByteArray
  }

  /** The raw reply to one QUERY on a fresh connection. */
  private def rawQuery(port: Int, fql: String): (String, Array[Byte]) = {
    val sock = new Socket("127.0.0.1", port)
    try {
      send(new DataOutputStream(sock.getOutputStream), "QUERY", fql.getBytes(StandardCharsets.UTF_8))
      recv(new DataInputStream(sock.getInputStream))
    } finally sock.close()
  }

  /** Spark jobs a wire call runs: the server is built inside the probe so
    * its connection threads carry the probe's marker. */
  private def wireJobs[T](root: String)(call: RemoteClient => T): (Int, T) = {
    val (jobs, got) = wireJobProperties(root)(call)
    (jobs.size, got)
  }

  /** The properties of each Spark job a wire call runs (see [[wireJobs]]). */
  private def wireJobProperties[T](root: String)(
      call: RemoteClient => T): (Seq[java.util.Properties], T) = {
    var server: WireServer = null
    var client: RemoteClient = null
    var got: Option[T] = None
    try {
      val jobs = jobPropertiesDuring {
        server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
        client = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
        got = Some(call(client))
      }
      (jobs, got.get)
    } finally {
      if (client != null) client.close()
      if (server != null) server.close()
    }
  }

  test("a wire QUERY runs one Spark job however many files the topic spans") {
    val root = filledRoot("graft_wire_onejob", "/oj", "float64", f64s(8))
    val files = new graft.engine.ParquetStore(spark, root).segmentCount
    assert(files >= 4, s"topic stored as $files files")
    val (scan, all) = wireJobs(root)(_.query("all in /oj"))
    assert(all.map(_.decoded.asInstanceOf[Double]).sorted == (1 to 8).map(_.toDouble))
    assert(scan == 1, s"all in /oj ran $scan jobs")
    val (pipe, kept) = wireJobs(root)(_.query("all in /oj | filter v -> v > 2 | map x -> x * 2"))
    assert(kept.map(_.decoded.asInstanceOf[Double]).sorted == (3 to 8).map(_ * 2.0))
    assert(pipe == 1, s"filter | map ran $pipe jobs")
    // a shuffle keeps its map-stage job: at most 2
    val (sample, _) = wireJobs(root)(_.query("sample(@hour) in /oj"))
    assert(sample <= 2, s"sample ran $sample jobs")
    val (reduce, Seq(sum)) = wireJobs(root)(_.query("all in /oj | reduce a, b -> a + b"))
    assert(sum.decoded == 36.0)
    assert(reduce <= 2, s"reduce ran $reduce jobs")
  }

  test("every job of a wire sample or general-fold QUERY runs under its tag and execution") {
    val root = filledRoot("graft_wire_tags", "/tg", "float64", f64s(8))
    // sample shuffles, so AQE runs a stage job before the result job; the
    // general fold runs its per-partition and final folds in one plan.
    // The eight entries land a minute apart: one hourly sample, and 8!
    for ((fql, want) <- Seq("sample(@hour) in /tg" -> Seq(1.0),
        "all in /tg | reduce a, b -> a * b" -> Seq(40320.0))) {
      val (jobs, got) = wireJobProperties(root)(_.query(fql))
      assert(got.map(_.decoded) == want, fql)
      assert(jobs.nonEmpty, fql)
      val tags = jobs.map(p => Option(p.getProperty("spark.job.tags")).toSeq
        .flatMap(_.split(",")).filter(_.startsWith("graft-wire-query-")))
      assert(tags.forall(_.size == 1) && tags.distinct.size == 1, s"$fql: $tags")
      val executions = jobs.map(p => Option(p.getProperty("spark.sql.execution.id")))
      assert(executions.forall(_.isDefined) && executions.distinct.size == 1, s"$fql: $executions")
    }
  }

  test("STATS answers from store footers with no Spark job and orders topics on the driver") {
    val root = Queries.scratchDir("graft_wire_stats")
    fill(root, Seq(("/st/b", "float64", f64s(2)), ("/st/a", "float64", f64s(3)),
      ("/st/c", "float64", f64s(1))))
    val (jobs, lines) = wireJobs(root)(_.stats())
    assert(lines.map(_.takeWhile(_ != ' ')) == Seq("/st/a", "/st/b", "/st/c"))
    // /st/b took minutes 0-1, /st/a minutes 2-4
    assert(lines.head == "/st/a n=3 first=2025-01-01T00:02:00.000000Z " +
      "last=2025-01-01T00:04:00.000000Z", lines.head)
    assert(jobs == 0, s"STATS ran $jobs jobs")
  }

  test("STATS aggregates in one shuffle and orders topics on the driver") {
    // files landed as INT96 carry no usable time range in their footers:
    // STATS falls back to one Spark aggregate over them
    val root = Queries.scratchDir("graft_wire_stats96")
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.getAll.get(key)
    spark.conf.set(key, "INT96")
    try fill(root, Seq(("/st/b", "float64", f64s(2)), ("/st/a", "float64", f64s(3)),
      ("/st/c", "float64", f64s(1))))
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val (jobs, lines) = wireJobs(root)(_.stats())
    assert(lines.map(_.takeWhile(_ != ' ')) == Seq("/st/a", "/st/b", "/st/c"))
    assert(lines.head == "/st/a n=3 first=2025-01-01T00:02:00.000000Z " +
      "last=2025-01-01T00:04:00.000000Z", lines.head)
    assert(jobs == 2, s"STATS ran $jobs jobs")
  }

  test("METRICS and /metrics count the store index's footer reads and time-pruned files") {
    // six wire APPENDs = six files of /fp, one per minute from 00:00
    val root = filledRoot("graft_wire_index", "/fp", "float64", f64s(6))
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock, metricsPort = 0)
    val client = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
    try {
      def counter(name: String): Long = server.metrics.render.linesIterator
        .find(_.startsWith(s"""$name{db_name="a"} """)).map(_.split(' ').last.toLong)
        .getOrElse(fail(s"$name missing"))
      assert(counter("fossil_store_footer_reads_total") == 0)
      assert(counter("fossil_store_files_pruned_total") == 0)
      val got = client.query(
        "all in /fp between ~(2025/01/01) + @minute * 2, ~(2025/01/01) + @minute * 3")
      assert(got.map(_.decoded.asInstanceOf[Double]).sorted == Seq(3.0, 4.0))
      assert(counter("fossil_store_footer_reads_total") == 6)
      assert(counter("fossil_store_files_pruned_total") == 4)
      // a repeat reads no footer; STATS neither
      client.query("all in /fp")
      client.stats()
      assert(counter("fossil_store_footer_reads_total") == 6)
      val http = new String(new java.net.URI(
        s"http://127.0.0.1:${server.httpMetricsPort}/metrics").toURL.openStream().readAllBytes(),
        StandardCharsets.UTF_8)
      assert(http.contains("# TYPE fossil_store_footer_reads_total counter"))
      assert(http.contains("# TYPE fossil_store_files_pruned_total counter"))
      assert(http.contains("""fossil_store_files_pruned_total{db_name="a"} 4"""))
    } finally { client.close(); server.close() }
  }

  test("QUERY bodies are the entry lines of the frame's rows, in partition order") {
    val root = Queries.scratchDir("graft_wire_bytes")
    val composite = FossilSchema.parse("{n:int64,s:string}")
    fill(root, Seq(
      ("/b/f64", "float64", f64s(6)),
      ("/b/i64", "int64", (1 to 5).map(i => Codec.encode(FossilSchema.SInt64, i * -7L))),
      ("/b/str", "string", Seq("", "tab\there", "ünï").map(Codec.encode(FossilSchema.SString, _))),
      ("/b/bin", "binary", Seq(Array[Byte](0, -1, 7), Array.emptyByteArray)
        .map(Codec.encode(FossilSchema.SBinary, _))),
      ("/b/arr", "[3]int32", Seq(Seq(1, 2, 3), Seq(-4, 0, 9))
        .map(Codec.encode(FossilSchema.parse("[3]int32"), _))),
      ("/b/cmp", "{n:int64,s:string}", Seq(Map("n" -> 1L, "s" -> "x"), Map("n" -> -2L, "s" -> ""))
        .map(Codec.encode(composite, _))),
      ("/b/none", "float64", Nil)))
    // the body the server built before the one-job fetch: every row of the
    // frame through toLocalIterator, one entry line each
    def iterated(df: DataFrame): Array[Byte] = entryBody(df, df.toLocalIterator().asScala.toSeq)
    val local = new LocalClient(spark, root, fixedClock)
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    try {
      for (fql <- Seq("all in /b/f64", "all in /b/i64", "all in /b/str", "all in /b/bin",
          "all in /b/arr", "all in /b/cmp", "all in /b", "all in /b/f64 | reduce a, b -> a + b",
          "all in /b/none", "all in /b/f64 | filter v -> v > 100")) {
        val (cmd, body) = rawQuery(server.port, fql)
        assert(cmd == "OK", s"$fql: ${new String(body.drop(4), StandardCharsets.UTF_8)}")
        val want = iterated(local.query(fql))
        assert(body.sameElements(want), s"$fql: body differs")
      }
      // spot checks that the fixtures exercise what they claim
      val rc = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
      try {
        val Seq(red) = rc.query("all in /b/f64 | reduce a, b -> a + b")
        assert(red.time == WireServer.ZeroTime && red.decoded == 21.0)
      } finally rc.close()
      assert(ByteBuffer.wrap(rawQuery(server.port, "all in /b/none")._2).getInt == 0)
    } finally server.close()
  }

  test("a QUERY over several partitions past the cap answers 507 and the connection survives") {
    val root = filledRoot("graft_wire_cap4", "/c4", "float64", f64s(8))
    val fitting = "all in /c4 | filter v -> v > 5"
    val whole = {
      val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
      try rawQuery(server.port, fitting)._2 finally server.close()
    }
    assert(ByteBuffer.wrap(whole).getInt == 3)
    // a frame of exactly the cap (8 command bytes + body) still fits
    val cap = 8 + whole.length
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock, maxResponseBytes = cap)
    try {
      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      for (fql <- Seq("all in /c4", "all in /c4 | filter v -> v > 4")) {
        send(out, "QUERY", fql.getBytes(StandardCharsets.UTF_8))
        val (c, p) = recv(in)
        assert(c == "ERR" && codeOf(p) == 507, fql)
      }
      send(out, "VERSION", Array.emptyByteArray)
      assert(codeOf(recv(in)._2) == 200)
      send(out, "QUERY", fitting.getBytes(StandardCharsets.UTF_8))
      val (oc, op) = recv(in)
      assert(oc == "OK" && op.sameElements(whole))
      sock.close()
    } finally server.close()
    val tight = new WireServer(spark, Map("a" -> root), "a", fixedClock, maxResponseBytes = cap - 1)
    try {
      val (c, p) = rawQuery(tight.port, fitting)
      assert(c == "ERR" && codeOf(p) == 507)
    } finally tight.close()
  }

  test("QUERY tasks ship at most one response's worth of large entries") {
    val root = Queries.scratchDir("graft_wire_large")
    val local = new LocalClient(spark, root, fixedClock)
    val rnd = new scala.util.Random(7)
    var minute = 0L
    // four files per topic of ~2.7 KB entry lines: /big's files each hold
    // more than the cap, /mid's each fit it but together do not
    for ((topic, perFile) <- Seq("/big" -> 24, "/mid" -> 4); _ <- 1 to 4)
      local.appendBatch((1 to perFile).map { _ =>
        minute += 1
        Row(new Timestamp(1735689600000L + minute * 60000L), topic,
          rnd.alphanumeric.take(2000).mkString)
      }, "string")
    for (t <- Seq("/big", "/mid"))
      assert(local.query(s"all in $t").queryExecution.toRdd.getNumPartitions >= 4, t)
    val cap = 16 * 1024
    val resultBytes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) resultBytes.add(e.taskMetrics.resultSize)
    }
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock, maxResponseBytes = cap)
    spark.sparkContext.addSparkListener(listener)
    try {
      // jobsDuring's marker job reaches the shared listener queue after
      // every task end of the queries before it
      jobsDuring {
        val sock = new Socket("127.0.0.1", server.port)
        val out = new DataOutputStream(sock.getOutputStream)
        val in = new DataInputStream(sock.getInputStream)
        for (fql <- Seq("all in /big", "all in /mid")) {
          send(out, "QUERY", fql.getBytes(StandardCharsets.UTF_8))
          val (c, p) = recv(in)
          assert(c == "ERR" && codeOf(p) == 507, fql)
        }
        send(out, "VERSION", Array.emptyByteArray)
        assert(codeOf(recv(in)._2) == 200)
        sock.close()
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      server.close()
    }
    val sizes = resultBytes.asScala.toSeq
    assert(sizes.nonEmpty && sizes.max > 4 * 2000, sizes) // /mid's files did ship
    assert(sizes.forall(_ <= cap), s"task results above the $cap-byte cap: $sizes")
  }

  test("a QueryExecutionListener sees one onSuccess per wire QUERY") {
    val root = filledRoot("graft_wire_qel", "/q", "float64", f64s(5))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(s"failed:$funcName")
    }
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    val client = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
    spark.listenerManager.register(listener)
    try {
      // the executions `body` ran, up to a marker action: the listener bus
      // delivers in order, so once the marker is seen so is everything before
      def executions(body: => Unit): Seq[String] = {
        seen.clear()
        body
        spark.range(1).collect()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!seen.contains("collect") && System.nanoTime() < deadline) Thread.sleep(10)
        val got = seen.asScala.toSeq
        assert(got.lastOption.contains("collect"), got)
        got.init
      }
      val queries = Seq("all in /q", "all in /q | filter v -> v > 1 | map x -> x * 2",
        "all in /q | reduce a, b -> a + b")
      assert(executions(queries.foreach(client.query)) == Seq.fill(queries.size)("wireQuery"))
      // sample's greedy pass plans through an RDD, which is an execution of
      // its own when the query compiles; the fetch is still one
      val sampled = executions(client.query("sample(@hour) in /q"))
      assert(sampled.count(_ == "wireQuery") == 1 && sampled.forall(Set("wireQuery", "rdd")), sampled)
    } finally {
      spark.listenerManager.unregister(listener)
      client.close(); server.close()
    }
  }

  test("hostile frames close only their own connection") {
    val root = filledRoot("graft_wire_hostile", "/h", "float64", f64s(2))
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    def int(v: Int) = ByteBuffer.allocate(4).putInt(v).array()
    val cmd = "QUERY".getBytes(StandardCharsets.UTF_8).padTo(8, 0.toByte)
    try {
      val bystander = new Socket("127.0.0.1", server.port)
      val bout = new DataOutputStream(bystander.getOutputStream)
      val bin = new DataInputStream(bystander.getInputStream)
      for ((what, frame) <- Seq(
          "a length prefix above MaxMessageBytes" -> int(WireServer.MaxMessageBytes + 1),
          "a negative length prefix" -> int(-1),
          "a length prefix below 8" -> int(7),
          "a frame truncated mid-body" -> (int(100) ++ cmd ++ "all in".getBytes(StandardCharsets.UTF_8)))) {
        val hostile = new Socket("127.0.0.1", server.port)
        hostile.setSoTimeout(30000)
        hostile.getOutputStream.write(frame)
        hostile.getOutputStream.flush()
        hostile.shutdownOutput() // the truncated body never completes
        val eof = try hostile.getInputStream.read() catch { case _: java.net.SocketException => -1 }
        assert(eof == -1, s"$what: the server did not close the connection")
        hostile.close()
        // the open connection still answers
        send(bout, "QUERY", "all in /h".getBytes(StandardCharsets.UTF_8))
        val (c, p) = recv(bin)
        assert(c == "OK" && ByteBuffer.wrap(p).getInt == 2, what)
        // and the server still accepts
        val fresh = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
        try assert(fresh.query("all in /h").size == 2, what) finally fresh.close()
      }
      bystander.close()
    } finally server.close()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("QUERYs of one shape that differ only in a constant compile no new classes") {
    val root = Queries.scratchDir("graft_wire_params")
    val local = new LocalClient(spark, root, fixedClock)
    // two days of entries up to the server clock's now, which bounds `since`
    val t0 = java.time.Instant.parse("2024-12-30T00:00:00Z")
    for (topic <- Seq("/p/a", "/p/b")) {
      local.createTopic(topic, "float64")
      local.appendBatch((0 until 2 * 24 * 60 by 7).map { m =>
        Row(Timestamp.from(t0.plusSeconds(m * 60L)), topic, (m % 100).toDouble)
      }, "float64")
    }
    // a WireImport page bound: microsecond instants
    def us(minutes: Int, micros: Int) = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(t0.plusSeconds(minutes * 60L).plusNanos(micros * 1000L))
    val shapes: Seq[(String, Int => String)] = Seq(
      "between" -> (i => s"all in /p/a between ~(2024/12/30) + @hour * $i, ~(2024/12/30) + @hour * ${i + 6}"),
      "since" -> (i => s"all in /p/b since ~(2024/12/31) + @hour * $i"),
      "filter" -> (i => s"all in /p/a | filter v -> v > ${20 + 3 * i}"),
      "cross-topic day" ->
        (i => s"all in /p between ~(2024/12/30) + @hour * $i, ~(2024/12/30) + @hour * ${i + 24}"),
      "follower page" ->
        (i => s"all in /p/b between ~(${us(97 * i, i)}), ~(${us(97 * i + 180, 999999 - i)})"))
    def confs = (spark.conf.getAll,
      spark.sparkContext.hadoopConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
    val confsBefore = confs
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    val replies = try shapes.map { case (shape, fql) =>
      val first = rawQuery(server.port, fql(0))
      val before = compiles
      val rest = (1 until 20).map(i => rawQuery(server.port, fql(i)))
      assert(compiles == before, s"$shape: ${compiles - before} classes compiled after the first query")
      first +: rest
    } finally server.close()
    assert(confs == confsBefore, "a wire QUERY changed the session's SQL or Hadoop conf")
    for (((shape, fql), got) <- shapes.zip(replies)) {
      got.zipWithIndex.foreach { case ((cmd, body), i) =>
        assert(cmd == "OK", s"$shape #$i: ${new String(body.drop(4), StandardCharsets.UTF_8)}")
        val df = local.query(fql(i))
        assert(body.sameElements(entryBody(df, df.collect().toSeq)), s"$shape #$i: ${fql(i)}")
      }
      // the constants matter: the shape returns rows, and not the same ones
      assert(got.map(r => ByteBuffer.wrap(r._2).getInt).sum > 0, shape)
      assert(got.map(_._2.toSeq).distinct.size > 1, shape)
    }
  }

  test("METRICS carries the JVM-wide codegen and JIT counters") {
    val text = new ServerMetrics().render
    val codegen = compiles
    assert(text.linesIterator.contains("# TYPE jvm_codegen_compiles_total counter"))
    assert(text.linesIterator.exists(l =>
      l.startsWith("# HELP jvm_codegen_compiles_total ") && l.contains("JVM-wide")))
    assert(text.linesIterator.contains(s"jvm_codegen_compiles_total $codegen"))
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      assert(text.linesIterator.contains("# TYPE jvm_jit_compile_seconds_total counter"))
      assert(text.linesIterator.exists(l =>
        l.startsWith("# HELP jvm_jit_compile_seconds_total ") && l.contains("JVM-wide")))
      assert(text.linesIterator.exists(_.matches("jvm_jit_compile_seconds_total [0-9.]+(E[0-9]+)?")))
    } else assert(!text.contains("jvm_jit_compile_seconds_total"))
  }
}

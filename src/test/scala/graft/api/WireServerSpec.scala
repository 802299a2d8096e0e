package graft.api

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Base64

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
    val rootA = Files.createTempDirectory("graft_wire_a").toString
    val rootB = Files.createTempDirectory("graft_wire_b").toString
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
    val root = Files.createTempDirectory("graft_wire_ff").toString
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
    val root = Files.createTempDirectory("graft_wire_arr").toString
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
    val root = Files.createTempDirectory("graft_wire_cap").toString
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
    val root = Files.createTempDirectory("graft_wire_shared").toString
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
    val root = Files.createTempDirectory("graft_wire_metrics").toString
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
    val rootA = Files.createTempDirectory("graft_wire_shape_a").toString
    val rootB = Files.createTempDirectory("graft_wire_shape_b").toString
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
    val root = Files.createTempDirectory("graft_wire_reduce").toString
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
    val root = Files.createTempDirectory("graft_wire_nojob").toString
    var server: WireServer = null
    var client: RemoteClient = null
    try {
      // created inside the probe: the server's threads inherit its marker
      val jobs = jobsDuring {
        server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
        client = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
        client.create("/nj", "float64")
        (1 to 3).foreach(i => client.append(s"/nj/t$i", Codec.encode(FossilSchema.SFloat64, i.toDouble)))
        client.append("/nj/t1", Codec.encode(FossilSchema.SFloat64, 4.0))
      }
      assert(jobs == 0)
      assert(client.query("all in /nj").map(_.decoded).toSet == Set(1.0, 2.0, 3.0, 4.0))
    } finally {
      if (client != null) client.close()
      if (server != null) server.close()
    }
  }
}

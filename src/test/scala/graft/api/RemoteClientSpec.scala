package graft.api


import org.scalatest.funsuite.AnyFunSuite

import graft.Queries
import graft.SparkSpec
import graft.engine.{Codec, FossilSchema}
import graft.fql.Compiler

/** Connection-string dispatch (`pkg/proto/connectionstring.go:34-74`
  * shapes) — pure parsing, no Spark. */
class ConnectionStringSpec extends AnyFunSuite {
  import ConnectionString._

  test("bare paths and file:// are local") {
    assert(parse("./path/to/db") == Local("./path/to/db"))
    assert(parse("/abs/path") == Local("/abs/path"))
    assert(parse("file:///abs/path") == Local("/abs/path"))
    assert(parse("") == Local("./")) // reference: empty string → "./"
  }

  test("fossil:// parses host, port, database with defaults") {
    assert(parse("fossil://h:9/db") == Remote("h", 9, "db"))
    assert(parse("fossil://h/db") == Remote("h", DefaultPort, "db"))
    assert(parse("fossil://h:9") == Remote("h", 9, DefaultDb))
    assert(parse("fossil://h:9/") == Remote("h", 9, DefaultDb))
  }

  test("nested database paths and unknown schemes are rejected") {
    // reference: `invalid database /a/b`
    intercept[IllegalArgumentException](parse("fossil://h:9/a/b"))
    intercept[IllegalArgumentException](parse("http://h:9/db"))
  }
}

/** [[RemoteClient]] ↔ [[WireServer]] round-trip — the reference-client
  * parity surface (`api/remote.go`) driven through the client class
  * instead of hand-rolled socket frames. */
class RemoteClientSpec extends SparkSpec {

  private val fixedClock: Compiler.Clock = () => 1735689600L * 1000000000L

  test("client round-trip: VERSION, CREATE, APPEND, QUERY, LIST, STATS, USE") {
    val rootA = Queries.scratchDir("graft_rc_a")
    val rootB = Queries.scratchDir("graft_rc_b")
    val server = new WireServer(spark, Map("a" -> rootA, "b" -> rootB), "a", fixedClock)
    val client = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 2)
    try {
      assert(client.version == WireServer.Version)

      client.create("/rc/t", "float64")
      // schema-on-append gate surfaces as a typed wire error
      val err = intercept[WireException](client.append("/rc/t", Array[Byte](1, 2)))
      assert(err.code == 500)

      client.append("/rc/t", Codec.encode(FossilSchema.SFloat64, 42.5))
      val entries = client.query("all in /rc/t")
      assert(entries.length == 1)
      val e = entries.head
      assert(e.topic == "/rc/t" && e.schema == "float64" && e.decoded == 42.5)
      // fixed clock: append stamps 2025-01-01T00:00:00Z
      assert(e.time == java.time.Instant.parse("2025-01-01T00:00:00Z"))

      assert(client.listTopics.contains("/rc/t" -> "float64"))
      assert(client.listDatabases == Seq("a", "b"))
      assert(client.stats().exists(l => l.startsWith("/rc/t ") && l.contains("n=1")))

      // USE switches every pooled connection: the topic is invisible in b
      client.use("b")
      assert(client.query("all in /rc/t").isEmpty)
      assert(client.listTopics.isEmpty)
      client.use("a")
      assert(client.query("all in /rc/t").length == 1)

      // server-side FQL errors arrive as typed wire errors, conn survives
      val qerr = intercept[WireException](client.query("frobnicate"))
      assert(qerr.code == 500)
      assert(client.query("all in /rc/t").length == 1)
    } finally { client.close(); server.close() }
  }

  test("array values decode through the client codec path") {
    val root = Queries.scratchDir("graft_rc_arr")
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    val client = new RemoteClient("127.0.0.1", server.port, db = "a", poolSize = 1)
    try {
      client.create("/vec", "[4]float64")
      val arr = Seq(1.5, -2.0, 0.0, 3.25)
      client.append("/vec", Codec.encode(FossilSchema.parse("[4]float64"), arr))
      val e = client.query("all in /vec").head
      assert(e.schema == "[4]float64")
      assert(e.decoded.asInstanceOf[Seq[Any]] == arr)
    } finally { client.close(); server.close() }
  }

  test("client reconnects with backoff and resends after a server restart") {
    val root = Queries.scratchDir("graft_rc_rec")
    val server1 = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    val port = server1.port
    val client = new RemoteClient("127.0.0.1", port, db = "a",
      poolSize = 1, maxReconnects = 5, backoffBaseMs = 50)
    try {
      client.create("/rec/t", "float64")
      client.append("/rec/t", Codec.encode(FossilSchema.SFloat64, 1.0))
      assert(client.query("all in /rec/t").length == 1)
      // kill the server (severing the client's pooled connection), bring a
      // replacement up on the SAME port over the SAME store root — the
      // reference's reconnectWithBackoff scenario (api/remote.go:63-86):
      // the client must notice the dead socket, re-handshake VERSION+USE,
      // and resend the request transparently
      server1.close()
      // the freed ephemeral port can be stolen by any concurrent bind in
      // the window before the replacement grabs it — retry briefly, like
      // a real replacement process would (rare; seen once in CI-style
      // full-suite runs as a BindException flake)
      def rebind(attempts: Int): WireServer =
        try new WireServer(spark, Map("a" -> root), "a", fixedClock,
          bindPort = port)
        catch {
          case _: java.net.BindException if attempts > 1 =>
            Thread.sleep(100); rebind(attempts - 1)
        }
      val server2 = rebind(20)
      try {
        val entries = client.query("all in /rec/t")
        assert(entries.length == 1 && entries.head.decoded == 1.0)
      } finally server2.close()
    } finally { client.close(); server1.close() }
  }

  test("an oversized response frame maps to wire 507 client-side and the " +
      "connection heals") {
    // the upstream reference enforces its 100 MiB frame cap RECEIVER-side
    // only (pkg/proto/message.go:96-98) — a live server happily sends a
    // bigger frame. Emulate that with a server whose send-side cap is the
    // default (far above this data) and a client receive cap of 4 KiB: the
    // client must surface the typed 507 (so WireImport's window-split
    // engages), NOT an IOException retried into the same oversized reply
    val root = Queries.scratchDir("graft_rc_cap")
    val server = new WireServer(spark, Map("c" -> root), "c", fixedClock)
    val client = new RemoteClient("127.0.0.1", server.port, db = "c",
      poolSize = 1, maxReconnects = 3, backoffBaseMs = 1, maxFrameBytes = 4096)
    try {
      client.create("/big", "string")
      val blob = "x" * 200
      (0 until 60).foreach(i =>
        client.append("/big", Codec.encode(FossilSchema.SString, s"$i-$blob")))
      val e = intercept[WireException](client.query("all in /big"))
      assert(e.code == 507)
      // the poisoned connection (unread body) was replaced in the pool:
      // the next, small-framed request succeeds on the same client
      assert(client.listTopics.contains("/big" -> "string"))
      assert(client.stats().exists(_.startsWith("/big ")))
    } finally { client.close(); server.close() }
  }

  test("connecting to a dead port fails, and a failed USE leaves the session intact") {
    val root = Queries.scratchDir("graft_rc_dead")
    val server = new WireServer(spark, Map("a" -> root), "a", fixedClock)
    val deadPort = server.port
    val client = new RemoteClient("127.0.0.1", deadPort, db = "a", poolSize = 1)
    val uerr = intercept[WireException](client.use("nosuchdb"))
    assert(uerr.code == 500)
    // the failed switch must not poison the client: currentDb stays "a",
    // so commands (and any reconnect handshake) keep working against it
    client.create("/alive", "float64")
    client.append("/alive", Codec.encode(FossilSchema.SFloat64, 1.0))
    assert(client.query("all in /alive").length == 1)
    client.close()
    server.close()
    // a freshly closed server's port is no longer accepting
    intercept[java.io.IOException](
      new RemoteClient("127.0.0.1", deadPort, db = "a", poolSize = 1))
  }
}

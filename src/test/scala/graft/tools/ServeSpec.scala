package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.Queries
import graft.api.ServeConfig

/** CLI argument parsing + config-file loading for the standalone server
  * entrypoint. */
class ServeSpec extends AnyFunSuite {

  // the reference's config.default.toml, shape-for-shape
  private val defaultToml = """
    |[fossil]
    |port = 8001
    |prom-port = 2112
    |
    |host = "fossil://localhost:8001/default"
    |local = true
    |verbose = 2
    |
    |[database]
    |directory = "./data"
    |
    |[database.test]
    |
    |[database.tester]
    |""".stripMargin

  test("the reference default TOML resolves ports, verbosity, and databases") {
    val c = ServeConfig.parse(defaultToml)
    assert(c.port == 8001 && c.promPort == 2112 && c.verbose == 2 && c.local)
    assert(c.host == "fossil://localhost:8001/default")
    // default from the plain [database] keys + the two named blocks; every
    // root is directory/name (the reference's path.Join(Directory, Name))
    assert(c.databases.keySet == Set("default", "test", "tester"))
    assert(c.databases("default") == java.nio.file.Paths.get("./data", "default").toString)
    assert(c.databases("test") == java.nio.file.Paths.get("./data", "test").toString)
    assert(c.defaultDb == "default")
  }

  test("a named block's own directory wins; blocks-only config adds no default") {
    val c = ServeConfig.parse(
      "[database.hot]\ndirectory = \"/fast\"\n[database.cold]\n")
    assert(c.databases == Map(
      "hot" -> java.nio.file.Paths.get("/fast", "hot").toString,
      "cold" -> java.nio.file.Paths.get("./data", "cold").toString))
    assert(c.defaultDb == "cold") // no default block → first alphabetically
    // defaults when [fossil] is absent entirely
    assert(c.port == 8001 && c.promPort == 2112 && c.verbose == 0 && !c.local)
  }

  test("a bare empty [database] header does not conjure a default db " +
      "next to named blocks") {
    val c = ServeConfig.parse("[database]\n[database.only]\n")
    assert(c.databases.keySet == Set("only"))
    // plain keys under [database] DO declare the default database
    val c2 = ServeConfig.parse("[database]\ndirectory = \"/d\"\n[database.x]\n")
    assert(c2.databases.keySet == Set("default", "x"))
  }

  test("comments and quoted # survive; malformed lines are named loudly") {
    val c = ServeConfig.parse(
      "[fossil]\nport = 9 # override\nhost = \"f#ragment\"\n")
    assert(c.port == 9 && c.host == "f#ragment")
    val e = intercept[IllegalArgumentException](ServeConfig.parse("[fossil]\nwat\n"))
    assert(e.getMessage.contains("line 2"))
  }

  test("a config-defined store boots and serves USE <db> over the wire") {
    import java.io.{DataInputStream, DataOutputStream}
    import java.net.Socket
    val spark = graft.TestSpark.spark
    val base = java.nio.file.Paths.get(Queries.scratchDir("graft_serve_cfg"))
    val toml = s"[database]\ndirectory = \"$base\"\n[database.test]\n"
    val cfgPath = base.resolve("fossil.toml")
    java.nio.file.Files.write(cfgPath, toml.getBytes("UTF-8"))
    val c = ServeConfig.parseFile(cfgPath.toString)
    assert(c.databases.keySet == Set("default", "test"))
    val server = new graft.api.WireServer(spark, c.databases, c.defaultDb)
    try {
      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      // frame by hand ([len u32][cmd 8B][data]) — the helpers are
      // private[api] and this spec deliberately lives with the CLI tools
      val cmdBytes = new Array[Byte](8)
      System.arraycopy("USE".getBytes("UTF-8"), 0, cmdBytes, 0, 3)
      val data = "test".getBytes("UTF-8")
      out.writeInt(8 + data.length); out.write(cmdBytes); out.write(data); out.flush()
      val len = in.readInt()
      val buf = new Array[Byte](len)
      in.readFully(buf)
      assert(new String(buf, 0, 8, "UTF-8").replace("\u0000", "").trim == "OK")
      assert(java.nio.ByteBuffer.wrap(buf, 8, 4).getInt == 201) // database changed
      // the USE resolved to the configured directory/name root
      assert(java.nio.file.Files.isDirectory(base) &&
        c.databases("test") == base.resolve("test").toString)
      sock.close()
    } finally server.close()
  }

  test("metrics= parses PORT and HOST:PORT, defaults the bind host to loopback") {
    assert(Serve.parseMetricsArg("9090") == ("127.0.0.1", 9090))
    assert(Serve.parseMetricsArg("0") == ("127.0.0.1", 0))
    assert(Serve.parseMetricsArg("0.0.0.0:9090") == ("0.0.0.0", 9090))
    assert(Serve.parseMetricsArg("example.internal:9090") == ("example.internal", 9090))
    assert(Serve.parseMetricsArg("[::1]:9090") == ("::1", 9090))
    assert(Serve.parseMetricsArg("[fe80::2]:80") == ("fe80::2", 80))
  }

  test("metrics= rejects unbracketed IPv6 and malformed values with the usage error") {
    // '::1' would otherwise split on the LAST colon into host ":" and
    // port "1", pass validation, and die much later with an opaque
    // UnknownHostException (round-8 ADVICE)
    for (bad <- Seq("::1", "fe80::2:80", "host:", ":9090", "host:port", "", "x")) {
      val e = intercept[IllegalArgumentException](Serve.parseMetricsArg(bad))
      assert(e.getMessage.contains("metrics= expects"), s"value '$bad': ${e.getMessage}")
    }
  }
}

package graft.tools

import graft.GraftSession
import graft.api.WireServer

/** Standalone wire-server entrypoint — the CLI analog of the reference's
  * `fossil server` command (`cmd/fossil/server/server.go`). Serves one or
  * more named stores over the fossil wire protocol until killed.
  *
  * Usage: sbt "runMain graft.tools.Serve [config=/path.toml] [port=N] [metrics=N] name=/path/to/store [name2=/path2 ...]"
  *        `config=` loads the reference-shaped TOML (`config.default.toml`
  *        keys: fossil.port/prom-port/verbose, [database] directory +
  *        named blocks — see [[graft.api.ServeConfig]]); explicit flags
  *        and name=/path pairs override the file.
  *        (defaults to `default=/tmp/graft_serve_store` on an ephemeral
  *        port — `port=8001` pins the reference default; the first name is
  *        the connection default; prints `listening on <port>`.
  *        `metrics=N` (or `metrics=host:N`) additionally serves Prometheus
  *        text on `http://host:N/metrics`, the reference's promhttp
  *        analog — `metrics=0` picks an ephemeral port; the bind host
  *        defaults to loopback (the scrape exposes db names and traffic
  *        shape — pass `metrics=0.0.0.0:N` to export beyond the host);
  *        scraping also works in-band via the `METRICS` wire command)
  */
object Serve {
  /** Parse a `metrics=` value into (bindHost, port). Splits host:port on
    * the LAST colon and strips IPv6 brackets, so `metrics=[::1]:9090`
    * works — and an UNBRACKETED IPv6 like `metrics=::1` is rejected here
    * with the usage error (the last-colon split would otherwise pass
    * host ":" through validation and fail much later with an opaque
    * UnknownHostException). Malformed ports likewise fail here instead of
    * as a bare NumberFormatException. */
  private[tools] def parseMetricsArg(v: String): (String, Int) =
    if (v.contains(':')) {
      val cut = v.lastIndexOf(':')
      val rawH = v.substring(0, cut)
      val bracketed = rawH.startsWith("[") && rawH.endsWith("]")
      val h = rawH.stripPrefix("[").stripSuffix("]")
      val p = v.substring(cut + 1)
      if (h.isEmpty || p.isEmpty || !p.forall(_.isDigit) ||
          (h.contains(':') && !bracketed))
        throw new IllegalArgumentException(
          s"metrics= expects PORT or HOST:PORT (IPv6 in brackets), got '$v'")
      (h, p.toInt)
    } else if (v.nonEmpty && v.forall(_.isDigit)) ("127.0.0.1", v.toInt)
    else throw new IllegalArgumentException(
      s"metrics= expects PORT or HOST:PORT (IPv6 in brackets), got '$v'")

  def main(args: Array[String]): Unit = {
    val (optArgs, rootArgs) = args.toSeq.partition(a =>
      a.startsWith("port=") || a.startsWith("metrics=") || a.startsWith("config="))
    // config=/path.toml loads the reference-shaped TOML (port, prom-port,
    // per-database directory blocks, verbosity — see api.ServeConfig);
    // explicit port=/metrics=/name= flags override the file, matching the
    // reference's viper.BindPFlag precedence (flags beat config).
    val config = optArgs.filter(_.startsWith("config="))
      .lastOption.map(a => graft.api.ServeConfig.parseFile(a.stripPrefix("config=")))
    val port = optArgs.filter(_.startsWith("port="))
      .lastOption.map(_.stripPrefix("port=").toInt)
      .orElse(config.map(_.port)).getOrElse(0)
    val (metricsHost, metricsPort) = optArgs.filter(_.startsWith("metrics="))
      .lastOption.map(_.stripPrefix("metrics=")) match {
        case Some(v) => parseMetricsArg(v)
        case None => ("127.0.0.1", config.map(_.promPort).getOrElse(-1))
      }
    val roots: Seq[(String, String)] =
      if (rootArgs.nonEmpty)
        rootArgs.map { a =>
          a.split("=", 2) match {
            case Array(n, p) => (n, p)
            case _ => throw new IllegalArgumentException(s"expected name=/path, got '$a'")
          }
        }
      else config match {
        case Some(c) =>
          // default first: the head is the connection-default database
          c.databases.toSeq.sortBy { case (n, _) => (n != c.defaultDb, n) }
        case None => Seq("default" -> "/tmp/graft_serve_store")
      }
    val spark = GraftSession.local(4)
    // fossil.verbose clamps at 2 (cmd/fossil/config.go clamp): 0=ERROR,
    // 1=WARN, 2=INFO — flags have no verbosity knob, config-only
    spark.sparkContext.setLogLevel(
      config.map(_.verbose.min(2)) match {
        case Some(2) => "INFO"
        case Some(1) => "WARN"
        case _ => "ERROR"
      })
    val server = new WireServer(spark, roots.toMap, roots.head._1,
      bindPort = port, metricsPort = metricsPort, metricsHost = metricsHost)
    println(s"listening on ${server.port}")
    if (server.httpMetricsPort >= 0)
      println(s"metrics on http://$metricsHost:${server.httpMetricsPort}/metrics")
    // serve until the process is killed (acceptor runs on a daemon thread)
    Thread.currentThread.join()
  }
}

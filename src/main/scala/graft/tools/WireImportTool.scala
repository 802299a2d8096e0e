package graft.tools

import graft.GraftSession
import graft.api.{ConnectionString, RemoteClient}
import graft.sources.WireImport

/** Live-server import CLI: page a running fossil server's database into a
  * ParquetStore root over the wire (the migration path for users with
  * only wire access — the filesystem twin is [[FossilImportTool]]).
  *
  *   sbt "runMain graft.tools.WireImportTool fossil://host[:port]/db <storeRoot> [pageSize] [--resume] [--jobs=N] [--follow=pollMs]"
  *
  * `--resume` continues an interrupted import from the sidecar high-water
  * marks beside the target store (see [[WireImport]]) instead of starting
  * over. `--jobs=N` pages N topics concurrently over an N-connection pool
  * (default 4; windows within a topic stay sequential, resume semantics
  * unchanged). `--follow=pollMs` runs the LIVE zero-downtime migration
  * ([[WireImport.follow]]): poll cycles every pollMs import only the new
  * tail; when the operator has quiesced the source, touching
  * `<storeRoot>/_cutover` triggers the final boundary-draining cycle and
  * the tool exits — delete the file before re-running. Pages log as they
  * land (a crawl-scale migration runs for hours); prints a one-line
  * summary (topics, entries, QUERY pages) and exits nonzero on failure. */
object WireImportTool {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val resume = flags.contains("--resume")
    val jobs = flags.collectFirst { case f if f.startsWith("--jobs=") =>
      f.stripPrefix("--jobs=").toInt }.getOrElse(4)
    val followMs = flags.collectFirst { case f if f.startsWith("--follow=") =>
      f.stripPrefix("--follow=").toLong }
    val unknown = flags.filterNot(f =>
      f == "--resume" || f.startsWith("--jobs=") || f.startsWith("--follow="))
    require(unknown.isEmpty, s"unknown flags: ${unknown.mkString(", ")}")
    require(!(resume && followMs.isDefined),
      "--resume is implicit under --follow (every cycle resumes from the sidecar)")
    require(pos.length == 2 || pos.length == 3,
      "usage: WireImportTool fossil://host[:port]/db <storeRoot> [pageSize] " +
        "[--resume] [--jobs=N] [--follow=pollMs]")
    val target = ConnectionString.parse(pos(0)) match {
      case r: ConnectionString.Remote => r
      case other => throw new IllegalArgumentException(
        s"WireImportTool needs a fossil:// connection string, got $other " +
          "(for a local fossil directory use FossilImportTool)")
    }
    val storeRoot = pos(1)
    val pageSize = if (pos.length == 3) pos(2).toInt else 50000
    val spark = GraftSession.local(GraftSession.cpus)
    val client = new RemoteClient(target.host, target.port, db = target.db,
      poolSize = jobs)
    try {
      val pages = new java.util.concurrent.atomic.AtomicInteger(0)
      val onPage = (topic: String, _: Long, _: Long) => {
        val p = pages.incrementAndGet()
        if (p % 20 == 0) println(s"  ...$p pages (at $topic)")
      }
      val r = followMs match {
        case Some(pollMs) =>
          val cutover = java.nio.file.Paths.get(storeRoot, "_cutover")
          println(s"following; touch $cutover after quiescing the source to cut over")
          WireImport.follow(spark, client, storeRoot,
            quiesced = () => java.nio.file.Files.exists(cutover),
            pageSize = pageSize, pollIntervalMs = pollMs,
            onCycle = (i, cr) => println(s"  cycle $i: ${cr.entries} entries"),
            onPage = onPage, concurrency = jobs)
        case None =>
          WireImport.importInto(spark, client, storeRoot, pageSize,
            resume = resume, concurrency = jobs, onPage = onPage)
      }
      println(s"imported ${r.entries} entries across ${r.topics} topics " +
        s"in ${r.pages} QUERY pages" + (if (resume) " (resumed)" else ""))
    } finally {
      client.close()
      spark.stop()
    }
  }
}

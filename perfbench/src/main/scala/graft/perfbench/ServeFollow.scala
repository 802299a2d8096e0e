package graft.perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.{LocalClient, RemoteClient, WireEntry, WireServer}
import graft.engine.{Codec, FossilSchema, ParquetStore}
import graft.fql.{Compiler, Parser}
import graft.perfbench.Main.{Args, Result, median, quantile}

/** Fossil's own traffic on one wire server, four closed-loop connections:
  * two readers cycle through a fixed FQL mix over the `main` store (seeded
  * with the sf0.1 events table), one writer appends single float64 datums
  * under `/live`, and one follower migrates the `src` store live while
  * a continuous query drains what it lands ([[Follower]]). Every
  * connection runs a fixed number of operations, so the stores end in the
  * same state on every run with the same arguments. */
object ServeFollow extends Main.Workload {

  final case class State(root: String, events: Data.Events, follower: Follower, server: WireServer)

  /** Order-independent digest of a set of entries. */
  final case class Digest(count: Long, hash: Long)
  def entryHash(tUs: Long, topic: String, value: Double): Long = {
    var h = tUs * 0x9E3779B97F4A7C15L
    h ^= topic.hashCode.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= java.lang.Double.doubleToLongBits(value) * 0x165667B19E3779F9L
    h ^ (h >>> 29)
  }

  /** One query of the mix: its shape (the name failures are reported by),
    * its FQL, and what a correct answer is. */
  final case class Query(shape: String, fql: String, expect: Expect)
  sealed trait Expect
  final case class Entries(d: Digest) extends Expect
  final case class Reduced(value: Double) extends Expect
  case object LiveWrites extends Expect

  val Shapes: Seq[String] = Seq(
    "between_6h", "since", "sample_hour", "filter_map", "agg_reduce", "cross_topic_day", "live")

  private val HourUs = 3600L * 1000000L
  private def day(d: Int) = f"~(2024/01/$d%02d)"

  /** Build one query of `shape` with its windows drawn from `r`, and its
    * expected answer computed straight from the generated events. */
  def query(shape: String, r: scala.util.Random, ev: Data.Events): Query = {
    val topic = "/events/" + Data.EventTypes(r.nextInt(Data.EventTypes.length))
    def digest(keep: Int => Boolean, v: Int => Double = ev.value(_)): Digest = {
      var n = 0L
      var h = 0L
      for (i <- 0 until ev.size if keep(i)) { n += 1; h += entryHash(ev.tUs(i), ev.topic(i), v(i)) }
      Digest(n, h)
    }
    def dayStart(d: Int) = Data.T0Us + (d - 1) * Data.DayUs
    shape match {
      case "between_6h" =>
        val d = 1 + r.nextInt(29)
        val h = r.nextInt(18)
        val lo = dayStart(d) + h * HourUs
        Query(shape, s"all in $topic between ${day(d)} + @hour * $h, ${day(d)} + @hour * ${h + 6}",
          Entries(digest(i => ev.topic(i) == topic && ev.tUs(i) >= lo && ev.tUs(i) <= lo + 6 * HourUs)))
      case "since" =>
        val d = 28 + r.nextInt(3)
        Query(shape, s"all in $topic since ${day(d)}",
          Entries(digest(i => ev.topic(i) == topic && ev.tUs(i) >= dayStart(d))))
      case "sample_hour" =>
        var last = Long.MinValue
        val kept = mutable.HashSet.empty[Int]
        for (i <- 0 until ev.size if ev.topic(i) == topic)
          if (last == Long.MinValue || ev.tUs(i) - last >= HourUs) { kept += i; last = ev.tUs(i) }
        Query(shape, s"sample(@hour) in $topic", Entries(digest(kept.contains)))
      case "filter_map" =>
        val d = 1 + r.nextInt(28)
        val x = 20 + r.nextInt(60)
        val (lo, hi) = (dayStart(d), dayStart(d + 2))
        Query(shape, s"all in $topic between ${day(d)}, ${day(d + 2)} | filter v -> v > $x | map x -> x * 2",
          Entries(digest(i => ev.topic(i) == topic && ev.tUs(i) >= lo && ev.tUs(i) <= hi && ev.value(i) > x,
            i => ev.value(i) * 2)))
      case "agg_reduce" =>
        Query(shape, s"all in $topic | map e -> 1 | reduce a, b -> a + b",
          Reduced(ev.topic.count(_ == topic).toDouble))
      case "cross_topic_day" =>
        val d = 1 + r.nextInt(29)
        val (lo, hi) = (dayStart(d), dayStart(d + 1))
        Query(shape, s"all in /events between ${day(d)}, ${day(d + 1)}",
          Entries(digest(i => ev.tUs(i) >= lo && ev.tUs(i) <= hi)))
      case "live" => Query(shape, "all in /live", LiveWrites)
    }
  }

  final case class Sizes(events: Int, perReader: Int, appends: Int, tranche: Int, cycles: Int)

  /** Operation counts sized so the connections run for about `seconds` on
    * 4 cores: each reader and the writer managed 2 to 4 operations a
    * second, and a follow cycle took 3 to 7 s, when this was written.
    * Readers run whole rounds of the mix, so every run has the same number
    * of each query shape. */
  def sizes(a: Args): Sizes =
    if (a.tiny) Sizes(1000, Shapes.size, 6, 200, 2)
    else Sizes(100000, Shapes.size * math.max(1, 3 * a.seconds / 8), 4 * a.seconds, 2000,
      math.max(2, a.seconds / 3))

  def setup(spark: SparkSession, a: Args, dir: String): State = {
    val z = sizes(a)
    val ev = Data.events(a.seed, z.events)
    val root = s"$dir/store"
    val c = new LocalClient(spark, root)
    c.createTopic("/events", "float64")
    c.appendFrame(ev.frame(spark), "float64")
    c.createTopic("/live", "float64")
    // cycle 0 is the warm-up, cycles 1..n are measured
    val f = new Follower(spark, s"$dir/follow", Data.events(a.seed + 1, z.tranche * (z.cycles + 1)), z.tranche)
    State(root, ev, f, new WireServer(spark, Map("main" -> root, "src" -> f.srcRoot), "main"))
  }

  private def connect(s: State, db: String) =
    new RemoteClient("127.0.0.1", s.server.port, db, poolSize = 1)

  /** Every shape once and one follow cycle, untimed: plans, codegen and
    * connection pools are warm before the first timed request. */
  def warmup(spark: SparkSession, a: Args, s: State): Unit = {
    val c = connect(s, "main")
    try {
      val r = new scala.util.Random(a.seed ^ 0x5EED)
      Shapes.filterNot(_ == "live").foreach { shape =>
        try c.query(query(shape, r, s.events).fql) catch { case _: Exception => () }
      }
    } finally c.close()
    val f = connect(s, "src")
    try s.follower.cycle(f, 0, new Trace(false), mutable.ArrayBuffer.empty) finally f.close()
  }

  private val f64 = FossilSchema.parse("float64")

  private def wireSize(e: WireEntry): Long =
    // `time \t topic \t base64(data) \t schema \n`, time as RFC 3339 with ns
    30 + 1 + e.topic.length + 1 + 4 * ((e.data.length + 2) / 3) + 1 + e.schema.length + 1

  def measure(spark: SparkSession, a: Args, s: State, trace: Trace,
      counters: SparkCounters, res: Result): Unit = {
    val z = sizes(a)
    val (perReader, appends) = (z.perReader, z.appends)
    val rnd = new scala.util.Random(a.seed)
    // query order and windows: a seeded shuffle of the mix per round
    val plans = (0 until 2).map { _ =>
      Iterator.fill(perReader / Shapes.size)(rnd.shuffle(Shapes)).flatten
        .map(query(_, rnd, s.events)).toVector
    }
    val liveTopics = Seq("/live/a", "/live/b", "/live/c")
    val writes = Vector.fill(appends)(
      (liveTopics(rnd.nextInt(3)), math.round(rnd.nextDouble() * 1e6) / 100.0))

    val acked = new AtomicInteger(0)
    val qLat = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val aLat = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val respBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val failures = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    val badChecks = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    def fail(op: String): Unit = failures.computeIfAbsent(op, _ => new AtomicInteger).incrementAndGet()
    val appendedValues = writes.map(_._2).toSet

    def reader(plan: Vector[Query], id: Int): Runnable = () => {
      val c = connect(s, "main")
      try plan.zipWithIndex.foreach { case (q, i) =>
        val before = acked.get()
        val t0 = System.nanoTime()
        val got = try Some(c.query(q.fql)) catch {
          case _: graft.api.WireException => None
        }
        val ms = (System.nanoTime() - t0) / 1e6
        got match {
          case None => fail(s"query:${q.shape}")
          case Some(es) =>
            qLat.add(ms)
            respBytes.addAndGet(es.map(wireSize).sum)
            val op = s"reader$id query #$i ${q.shape} `${q.fql}`"
            q.expect match {
              case Entries(d) =>
                var h = 0L
                es.foreach { e =>
                  val tUs = e.time.getEpochSecond * 1000000L + e.time.getNano / 1000
                  h += entryHash(tUs, e.topic, e.decoded.asInstanceOf[Double])
                }
                if (es.size != d.count || h != d.hash)
                  badChecks.add(s"$op: ${es.size} entries, expected ${d.count} (digest mismatch)")
              case Reduced(v) =>
                if (es.size != 1 || es.head.decoded.asInstanceOf[Number].doubleValue != v)
                  badChecks.add(s"$op: expected one entry with value $v")
              case LiveWrites =>
                val vals = es.map(_.decoded.asInstanceOf[Double])
                if (vals.size < before || vals.size > writes.size || !vals.forall(appendedValues))
                  badChecks.add(s"$op: ${vals.size} entries, $before appends acknowledged before it")
            }
        }
      } finally c.close()
    }
    val writer: Runnable = () => {
      val c = connect(s, "main")
      try writes.foreach { case (topic, v) =>
        val t0 = System.nanoTime()
        val ok = try { c.append(topic, Codec.encode(f64, v)); true } catch {
          case _: graft.api.WireException => false
        }
        if (ok) { aLat.add((System.nanoTime() - t0) / 1e6); acked.incrementAndGet() }
        else fail("append")
      } finally c.close()
    }

    val lags = mutable.ArrayBuffer.empty[Double]
    val follows = mutable.ArrayBuffer.empty[graft.sources.WireImport.Result]
    val drainStarts = mutable.ArrayBuffer.empty[Long]
    val follower: Runnable = () => {
      val c = connect(s, "src")
      try (1 to z.cycles).foreach { i =>
        val (r, lag) = s.follower.cycle(c, i, trace, drainStarts)
        follows += r
        lags += lag
      } catch {
        case e: Exception => badChecks.add(s"follow cycle ${follows.size + 1}: $e")
      } finally c.close()
    }

    val t0 = System.nanoTime()
    val c0 = Main.cpuS()
    val j0 = Main.jitS()
    val threads = Seq(reader(plans(0), 0), reader(plans(1), 1), writer, follower).map(new Thread(_))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = Main.cpuS() - c0
    val jitS = Main.jitS() - j0
    s.server.close()

    val q = qLat.asScala.toSeq
    val ap = aLat.asScala.toSeq
    res.checkFailures ++= badChecks.asScala
    failures.asScala.foreach { case (k, v) => res.failuresByOp(k) = v.get.toLong }
    res.attempted = 2L * perReader + appends + z.cycles
    res.failed = failures.asScala.values.map(_.get.toLong).sum + (z.cycles - lags.size)
    res.check(q.size >= 1 && ap.size >= 1 && lags.nonEmpty, "no successful queries, appends or follow cycles")
    if (q.isEmpty || ap.isEmpty || lags.isEmpty) return
    res.checkFailures ++= s.follower.check(lags.size)
    val followed = follows.map(_.entries).sum
    res.check(followed == z.tranche.toLong * z.cycles,
      s"follow: imported $followed entries in ${z.cycles} cycles, expected ${z.tranche.toLong * z.cycles}")

    // durability: a fresh client on the same root returns exactly the
    // acknowledged appends
    val reopened = new LocalClient(spark, s.root)
    val live = reopened.query("all in /live").collect()
      .map(r => (r.getString(1), r.getDouble(2))).toSeq
    val expected = writes.take(acked.get())
    res.check(acked.get() == appends && live.sortBy(identity) == expected.sortBy(identity),
      s"durability: reopened store holds ${live.size} /live entries, ${acked.get()} appends acknowledged")

    val liveBytes = Option(new File(s"${s.root}/data").listFiles()).toSeq.flatten
      .flatMap(g => Option(g.listFiles()).toSeq.flatten)
      .filter(d => java.net.URLDecoder.decode(d.getName, "UTF-8").startsWith("topic=/live"))
      .flatMap(d => allFiles(d)).filter(_.getName.endsWith(".parquet")).map(_.length).sum

    val all = q ++ ap
    res.e2e("op_p50_ms") = median(all)
    res.e2e("ops_per_s") = all.size / wallS
    res.e2e("op_cpu_ms") = cpuS * 1000 / res.attempted
    res.e2e("jvm.jit_ms") = jitS * 1000 / res.attempted
    res.counts("ops") = all.size.toLong
    res.counts("queries") = q.size.toLong
    res.counts("appends") = ap.size.toLong
    res.e2e("query_p50_ms") = median(q)
    res.e2e("query_p90_ms") = quantile(q, 0.90)
    res.e2e("queries_per_s") = q.size / wallS
    res.e2e("append_p50_ms") = median(ap)
    res.e2e("append_p90_ms") = quantile(ap, 0.90)
    res.e2e("appends_per_s") = ap.size / wallS
    res.e2e("append_bytes_per_entry") = liveBytes.toDouble / ap.size
    res.e2e("failed_ratio") = res.failed.toDouble / res.attempted
    res.e2e("follow_lag_p50_ms") = median(lags.toSeq)
    res.e2e("follow_entries_per_s") = followed / wallS
    res.counts("follow_cycles") = lags.size.toLong

    if (trace.enabled) {
      val m = s.server.metrics
      def serverMs(cmd: String) =
        m.responseSumNs("main", cmd).toDouble / math.max(1L, m.responseCount("main", cmd)) / 1e6
      res.layer("api.query_server_ms") = serverMs("QUERY")
      res.layer("api.query_wire_ms") = q.sum / q.size - serverMs("QUERY")
      res.layer("api.response_kb") = respBytes.get / 1024.0 / q.size
      res.layer("api.append_server_ms") = serverMs("APPEND")
      redrive(spark, a, s, reopened, trace, counters, res)
      res.layer("api.encode_ms") = serverMs("QUERY") - Seq("fql.parse", "engine.entries",
        "fql.compile", "spark.plan", "spark.execute").map(trace.meanMs).sum
      val pages = follows.map(_.pages).sum
      res.layer("sources.follow_ms") = trace.meanMs("sources.follow")
      res.layer("sources.pages_per_cycle") = pages.toDouble / lags.size
      res.layer("sources.entries_per_page") = followed.toDouble / math.max(1, pages)
      res.layer("engine.append_frame_ms") = trace.meanMs("engine.append_frame")
      res.layer("streaming.drain_ms") = trace.meanMs("streaming.drain")
      val prog = counters.progress.asScala.toSeq
      def meanOf(k: String) = {
        val v = prog.flatMap(_.durations.get(k))
        if (v.isEmpty) 0.0 else v.sum.toDouble / v.size
      }
      Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning")
        .foreach(k => res.layer(s"streaming.${k}_ms") = meanOf(k))
      res.layer("streaming.batches_per_drain") = prog.size.toDouble / lags.size
      // start of each drain to the first progress event after it
      val firsts = drainStarts.toSeq.flatMap(st => prog.map(_.arrivedMs).filter(_ >= st).minOption.map(_ - st))
      res.layer("streaming.restart_ms") = if (firsts.isEmpty) 0.0 else firsts.sum.toDouble / firsts.size
    }
    res.layer("engine.store_files") = new ParquetStore(spark, s.root).segmentCount.toDouble
    res.layer("engine.landing_files") = s.follower.landingFiles.toDouble
  }

  private def allFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(allFiles) else Seq(f)

  /** Traced run only: drive each shape of the mix once more in-process,
    * through the same public calls the server makes, so the server's time
    * splits into fql / engine / spark; then time single appends through
    * the engine directly. */
  private def redrive(spark: SparkSession, a: Args, s: State, client: LocalClient,
      trace: Trace, counters: SparkCounters, res: Result): Unit = {
    val store = new ParquetStore(spark, s.root)
    val r = new scala.util.Random(a.seed ^ 0xD21E)
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    var files = 0L
    var rowsOut = 0L
    val queries = for (_ <- 0 until 3; shape <- Shapes) yield query(shape, r, s.events)
    queries.zipWithIndex.foreach { case (q, i) =>
      val t0 = System.currentTimeMillis()
      trace.op(s"redrive-$i", s"redrive.${q.shape}") {
        val ast = trace.span("fql.parse")(Parser.parse(q.fql))
        val entries = trace.span("engine.entries")(store.entries(ast.topic.getOrElse("/")))
        val df = trace.span("fql.compile")(Compiler.compile(ast, entries))
        trace.span("spark.plan")(df.queryExecution.executedPlan)
        files += df.inputFiles.length
        trace.span("spark.execute") {
          val it = df.toLocalIterator()
          while (it.hasNext) { it.next(); rowsOut += 1 }
        }
      }
      windows += ((t0, System.currentTimeMillis()))
    }
    res.layer ++= counters.summarize(windows.toSeq)
    res.layer("fql.parse_us") = trace.meanMs("fql.parse") * 1000
    res.layer("fql.compile_ms") = trace.meanMs("fql.compile")
    res.layer("engine.entries_ms") = trace.meanMs("engine.entries")
    res.layer("engine.files_per_query") = files.toDouble / queries.size
    res.layer("engine.rows_scanned_per_row_returned") =
      counters.recordsRead(windows.toSeq).toDouble / math.max(1L, rowsOut)
    (0 until 10).foreach { i =>
      trace.op(s"append-$i", "redrive.append") {
        trace.span("engine.append")(client.appendRaw("/live/redrive", Codec.encode(f64, i.toDouble)))
      }
    }
    res.layer("engine.append_ms") = trace.meanMs("engine.append")
  }

  def close(s: State): Unit = s.server.close()
}

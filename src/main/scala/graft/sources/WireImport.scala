package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.{LocalClient, RemoteClient, WireEntry, WireException}

/** Bulk import from a LIVE fossil server into a [[graft.engine.ParquetStore]]
  * — the wire-access migration path (the offline twin is
  * [[FossilDatabase.importInto]] for users who can reach the files; this
  * one needs only a running server, whose single read path is QUERY —
  * `pkg/server/server.go:152-168`).
  *
  * Shape: LIST gives the topic catalog (re-created first so schemas
  * survive even for empty topics), STATS gives per-topic entry counts and
  * time bounds, and each topic's data pages through QUERY in DISJOINT
  * time windows sized off the topic's entry count, landing each page
  * through the engine's exactly-once DataFrame ingest. Paging bounds every
  * response frame (the wire protocol buffers a QUERY response fully — a
  * one-shot `all in t` of a big topic would hit the 100 MiB frame cap,
  * reference `pkg/proto/message.go:96-98`) and bounds driver memory to one
  * page of entries.
  *
  * Windows are computed in MICROSECONDS — the wire's full time fidelity
  * (entry and STATS lines carry exactly six fractional digits), and the
  * engine's own timestamp precision. Window `i` of a topic is the µs range
  * `[b(i), b(i+1) − 1µs]` (the last closes at the topic's `last`), which is
  * disjoint and covering by construction; an earlier design stepped
  * NANOSECOND bounds by 1 ns, and any non-µs-aligned interior bound made
  * adjacent windows share a microsecond after the engine's µs truncation —
  * entries at that µs landed twice. µs arithmetic also retires the Long
  * overflow class outright: 2^63 µs ≈ 292,000 years of span.
  *
  * Two defensive clamps make over-delivery structurally impossible:
  * each fetched page is filtered to the EXACT topic (FQL `in t` selects
  * descendants too, and STATS lists every data-bearing topic separately —
  * without the clamp, nested-topic entries would land once per
  * data-bearing ancestor) and to the window's own µs range (so even a
  * server with different boundary rounding cannot produce duplicates:
  * landed sets are disjoint because the clamped windows are).
  *
  * Time-skewed topics: windows are sized assuming time-uniform entries,
  * but real topics burst (incident logs put most entries in one short
  * window). When a window's response overflows the server's frame cap
  * (wire error 507) the window is SPLIT in half recursively until pages
  * fit — detection is free (the cap error is the exact failure being
  * avoided, no threshold to tune) and only the failed window re-fetches.
  * A single microsecond that alone overflows the cap cannot be split and
  * fails with a named error (import that store offline instead).
  *
  * Resume: each page landing is preceded by an intent record in a sidecar
  * (`_wire_import.json` beside the target store, same atomic tmp+move
  * protocol as `catalog.json`) carrying the per-topic high-water mark.
  * `importInto(..., resume = true)` skips topics/windows at or below the
  * mark and re-lands only the missing SUFFIX of an interrupted page:
  * within a page, schema groups land sequentially in sorted-DDL order and
  * each landing is one all-or-nothing driver-side append (no Spark job,
  * see [[graft.engine.ParquetStore.append]]), so the landed prefix is
  * identified by comparing the target's in-window entry count against the
  * strictly-increasing prefix sums of the re-fetched groups. Resume
  * assumes the import is the only writer of those topics and the source
  * did not gain in-window entries between crash and resume (quiesce for
  * exact snapshots — see the consistency note below); a count that matches
  * no prefix fails loudly rather than guessing. The sidecar is deleted on
  * successful completion.
  *
  * Fidelity: the wire QUERY exposes entry times at the engine's µs
  * timestamp precision, so the import is lossless with respect to what
  * any wire client can observe. Values round-trip through the schema
  * codec ([[graft.api.WireEntry.decoded]]) and land typed. Entries are
  * grouped per schema DDL within a page (hierarchy inheritance can mix
  * schemas in one topic's lineage).
  *
  * Consistency: a server ingesting concurrently is drained best-effort —
  * counts are read once from STATS; entries appended after that snapshot
  * may or may not be seen by later pages (the same read-skew any paged
  * wire export has). Import quiesced servers for exact snapshots — or
  * migrate LIVE with [[followOnce]]/[[follow]], which compose this pager
  * into an incremental tail: each poll cycle imports only past each
  * topic's sidecar high-water mark, holding back the boundary
  * microsecond while the source is appending (see [[followOnce]] for the
  * no-downtime cutover recipe and the monotonic-append contract). */
object WireImport {

  final case class Result(topics: Int, entries: Long, pages: Int)

  private val StatsLine = """^(\S+) n=(\d+) first=(\S+) last=(\S+)$""".r

  /** How long a concurrent run waits for its other workers to stop after
    * the first failure (or after the last topic) before it returns. */
  private val WorkerStopWaitSeconds = 60L

  /** Wire instants carry exactly µs precision (`SSSSSS` in the server's
    * entry/STATS format), so the µs value is exact — no rounding choice. */
  private def usOf(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)

  private def toUs(s: String): Long =
    usOf(Instant.from(DateTimeFormatter.ISO_OFFSET_DATE_TIME.parse(s)))

  private def fmtUs(us: Long): String =
    DateTimeFormatter.ISO_INSTANT.format(Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  // ---- resume sidecar -----------------------------------------------------

  /** Per-topic progress: `done` = every source entry at or below this µs
    * has fully landed; `pending` = a window whose landing may have been
    * interrupted (intent is written BEFORE landing, cleared by the next
    * window's intent or the topic's completion record); `imported` =
    * entries landed for this topic so far — NOT a correctness input, only
    * the window-count estimator's state: a follow cycle over a
    * crawl-scale topic must size its windows from the TAIL
    * (`n − imported`), not the total n, or every poll pays O(corpus)
    * mostly-empty QUERY round-trips (r16 ADVICE). Underestimates are safe
    * (the 507 split-on-overflow handles an over-dense window); sidecars
    * from pre-`imported` versions load as 0, degrading to the old
    * total-sized behavior for exactly one cycle. */
  private[graft] final case class TopicState(
      done: Long, pending: Option[(Long, Long)], imported: Long = 0L)

  private[graft] def stateFile(root: String) = Paths.get(root, "_wire_import.json")

  private[graft] def loadState(root: String): Map[String, TopicState] = {
    val p = stateFile(root)
    if (!Files.exists(p)) return Map.empty
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    def un(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
    val Done = """done=(-?\d+)(?: imported=(\d+))?""".r
    val DonePending = """done=(-?\d+)(?: imported=(\d+))? pending=(-?\d+):(-?\d+)""".r
    def imp(s: String): Long = Option(s).map(_.toLong).getOrElse(0L)
    entry.findAllMatchIn(json).map { m =>
      un(m.group(1)) -> (un(m.group(2)) match {
        case DonePending(d, i, lo, hi) =>
          TopicState(d.toLong, Some((lo.toLong, hi.toLong)), imp(i))
        case Done(d, i) => TopicState(d.toLong, None, imp(i))
        case other => throw new IllegalStateException(
          s"corrupt wire-import sidecar value: '$other' in $p")
      })
    }.toMap
  }

  private[graft] def saveState(root: String, st: Map[String, TopicState]): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json = st.toSeq.sortBy(_._1).map { case (t, s) =>
      val v = s.pending match {
        case Some((lo, hi)) => s"done=${s.done} imported=${s.imported} pending=$lo:$hi"
        case None => s"done=${s.done} imported=${s.imported}"
      }
      s"""  "${esc(t)}": "$v""""
    }.mkString("{\n", ",\n", "\n}")
    val tmp = Paths.get(root, "._wire_import.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, stateFile(root),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- import ---------------------------------------------------------

  /** Import every topic of the client's bound database into a fresh or
    * existing store at `targetRoot`; ~`pageSize` entries per QUERY.
    *
    * Concurrency: with `concurrency > 1`, TOPICS page in parallel — each
    * topic is owned end-to-end by one worker (its windows stay strictly
    * sequential, so the per-topic sidecar semantics are untouched), and
    * workers share the client's connection pool (one in-flight window per
    * connection — the natural fan-out is `client.poolConnections`).
    * Engine landings serialize on the store lock, so the overlap won is
    * wire paging + parse/decode against landings, which is where a
    * remote migration's wall time goes. The sidecar write is the only
    * shared mutable state and is lock-serialized (each write persists the
    * full map atomically, exactly as before). On the first worker
    * failure, remaining topics are cancelled; completed and in-flight
    * topics keep their sidecar marks, so `resume = true` continues from
    * the crash exactly as in the sequential path.
    *
    * @param resume continue a previously interrupted import from its
    *   sidecar high-water marks instead of starting over (see class doc)
    * @param onPage progress hook, called as `(topic, windowLoUs,
    *   windowHiUs)` after each page lands — a crawl-scale migration runs
    *   for hours and wants observable progress. May be called from
    *   multiple worker threads when `concurrency > 1`.
    * @param concurrency number of topics paging in parallel (default 1 =
    *   sequential; cap it at the client's pool size — beyond that,
    *   workers only queue on the connection pool) */
  def importInto(spark: SparkSession, client: RemoteClient,
      targetRoot: String, pageSize: Int = 50000, resume: Boolean = false,
      onPage: (String, Long, Long) => Unit = (_, _, _) => (),
      concurrency: Int = 1): Result =
    run(spark, client, targetRoot, pageSize, resume, onPage, concurrency,
      holdback = false, keepSidecar = false)

  // ---- follow (live incremental ingest) ---------------------------------

  /** ONE poll cycle of a live migration: re-LIST topics (new ones are
    * created), re-read STATS, and import ONLY the window past each
    * topic's sidecar high-water mark — the batch pager composed into an
    * incremental tail, so a live fossil deployment migrates WITHOUT
    * downtime: follow while the source keeps appending, quiesce it, run
    * one `closeBoundary = true` cycle, switch over.
    *
    * The boundary microsecond is HELD BACK while the source is live
    * (`closeBoundary = false` imports only up to `last − 1µs` per topic):
    * the source may still be appending entries INTO the µs STATS reported
    * as `last`, and a cycle that imported through `last` would silently
    * miss any that land after its QUERY — the one read-skew window paging
    * cannot see. Held-back entries are picked up by the next cycle (the
    * topic's `last` has moved past them) or by the final quiesced
    * `closeBoundary` cycle. Consequently a resumed pending window always
    * sits strictly below the source's observed tail, so the
    * "source gained in-window entries" resume hazard of the batch path
    * cannot occur under follow's own contract.
    *
    * CONTRACT: the source must append time-monotonically per topic (the
    * reference server stamps entries at append receipt), and this
    * importer must be the topics' only writer on the target. An
    * out-of-order append below a topic's high-water mark is permanently
    * missed — the same property any watermark-paged tail has.
    *
    * The sidecar is NEVER deleted by follow cycles — it IS the high-water
    * state between polls. Re-running after `closeBoundary` is safe and
    * idempotent: a cycle with no new source entries imports nothing. */
  def followOnce(spark: SparkSession, client: RemoteClient,
      targetRoot: String, pageSize: Int = 50000,
      closeBoundary: Boolean = false,
      onPage: (String, Long, Long) => Unit = (_, _, _) => (),
      concurrency: Int = 1): Result =
    run(spark, client, targetRoot, pageSize, resume = true, onPage,
      concurrency, holdback = !closeBoundary, keepSidecar = true)

  /** Poll-loop around [[followOnce]]: cycles every `pollIntervalMs` until
    * `quiesced()` turns true, then runs ONE final `closeBoundary` cycle
    * (the source must actually be quiesced by then — that cycle drains
    * each topic's boundary microsecond). Returns the aggregate result;
    * `onCycle(i, result)` observes each cycle (0-based, the close cycle
    * last). */
  def follow(spark: SparkSession, client: RemoteClient,
      targetRoot: String, quiesced: () => Boolean,
      pageSize: Int = 50000, pollIntervalMs: Long = 1000L,
      onCycle: (Int, Result) => Unit = (_, _) => (),
      onPage: (String, Long, Long) => Unit = (_, _, _) => (),
      concurrency: Int = 1): Result = {
    require(pollIntervalMs >= 0, s"pollIntervalMs must be >= 0, got $pollIntervalMs")
    var topics = 0
    var entries = 0L
    var pages = 0
    var i = 0
    var done = false
    while (!done) {
      done = quiesced() // check BEFORE the cycle: the close cycle below drains
      val r =
        if (done) followOnce(spark, client, targetRoot, pageSize,
          closeBoundary = true, onPage, concurrency)
        else followOnce(spark, client, targetRoot, pageSize,
          closeBoundary = false, onPage, concurrency)
      topics = r.topics
      entries += r.entries
      pages += r.pages
      onCycle(i, r)
      i += 1
      if (!done && pollIntervalMs > 0) Thread.sleep(pollIntervalMs)
    }
    Result(topics, entries, pages)
  }

  private def run(spark: SparkSession, client: RemoteClient,
      targetRoot: String, pageSize: Int, resume: Boolean,
      onPage: (String, Long, Long) => Unit,
      concurrency: Int, holdback: Boolean, keepSidecar: Boolean): Result = {
    require(pageSize >= 1, s"pageSize must be >= 1, got $pageSize")
    require(concurrency >= 1, s"concurrency must be >= 1, got $concurrency")
    val target = new LocalClient(spark, targetRoot)
    val existing = target.listTopics.toMap
    val topics = client.listTopics
    // parents before children: creation order matters under inheritance
    topics.sortBy(_._1).foreach { case (t, ddl) =>
      existing.get(t) match {
        case Some(have) if have != ddl => throw new IllegalArgumentException(
          s"target already has $t with schema $have (source says $ddl)")
        case Some(_) => () // already created (e.g. a resumed run)
        case None => target.createTopic(t, ddl)
      }
    }
    val stateLock = new Object
    var state: Map[String, TopicState] =
      if (resume) loadState(targetRoot)
      else { Files.deleteIfExists(stateFile(targetRoot)); Map.empty }

    val stats = client.stats().map {
      case StatsLine(t, n, first, last) => (t, (n.toLong, toUs(first), toUs(last)))
      case line => throw new IllegalArgumentException(
        s"unparseable STATS line from server: '$line'")
    }.toMap
    val entries = new java.util.concurrent.atomic.AtomicLong(0L)
    // set on the first worker failure: the other workers stop at their
    // next window boundary (see the concurrent branch below)
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    def stopIfCancelled(): Unit =
      if (cancelled.get) throw new java.util.concurrent.CancellationException("import cancelled")
    val pages = new java.util.concurrent.atomic.AtomicInteger(0)

    /** Fetch one window, clamped to the exact topic and the window's own
      * µs range (see class doc: descendants + boundary rounding). */
    def fetch(topic: String, loUs: Long, hiUs: Long): Seq[WireEntry] =
      client.query(s"all in $topic between ~(${fmtUs(loUs)}), ~(${fmtUs(hiUs)})")
        .filter { e =>
          e.topic == topic && { val us = usOf(e.time); us >= loUs && us <= hiUs }
        }

    /** Schema groups of a page in their landing order (sorted DDL) — the
      * order is the resume contract: a crash mid-page leaves a PREFIX. */
    def groupsOf(got: Seq[WireEntry]): Seq[(String, Seq[WireEntry])] =
      got.groupBy(_.schema).toSeq.sortBy(_._1)

    def landGroups(gs: Seq[(String, Seq[WireEntry])]): Unit =
      gs.foreach { case (ddl, es) =>
        val st = graft.engine.FossilSchema.parse(ddl)
        target.appendBatch(
          es.map(e => Row(Timestamp.from(e.time), e.topic,
            graft.engine.Codec.toSpark(st, e.decoded))), ddl)
      }

    def markPending(topic: String, done: Long, lo: Long, hi: Long): Unit =
      stateLock.synchronized {
        val imp = state.get(topic).map(_.imported).getOrElse(0L)
        state = state.updated(topic, TopicState(done, Some((lo, hi)), imp))
        saveState(targetRoot, state)
      }

    /** `landed` = entries this completion adds to the topic's imported
      * count (the window-sizing estimator's state, see [[TopicState]]). */
    def markDone(topic: String, done: Long, landed: Long = 0L): Unit =
      stateLock.synchronized {
        val imp = state.get(topic).map(_.imported).getOrElse(0L) + landed
        state = state.updated(topic, TopicState(done, None, imp))
        saveState(targetRoot, state)
      }

    /** Import one window; on a frame-cap overflow (wire 507) split the
      * window in half and recurse — see class doc. Returns the number of
      * entries landed (for the imported-count estimator). */
    def importWindow(topic: String, doneBefore: Long, loUs: Long, hiUs: Long): Long = {
      val page =
        try fetch(topic, loUs, hiUs)
        catch {
          case e: WireException if e.code == 507 =>
            if (hiUs > loUs) {
              val mid = loUs + (hiUs - loUs) / 2
              val a = importWindow(topic, doneBefore, loUs, mid)
              val b = importWindow(topic, mid, mid + 1, hiUs)
              return a + b
            } else throw new IllegalStateException(
              s"topic $topic has more entries at ${fmtUs(loUs)} than fit one " +
                "wire frame — an unsplittable window; import this store " +
                "offline (FossilDatabase.importInto) or raise the server cap", e)
        }
      markPending(topic, doneBefore, loUs, hiUs)
      landGroups(groupsOf(page))
      pages.incrementAndGet()
      entries.addAndGet(page.size.toLong)
      onPage(topic, loUs, hiUs)
      page.size.toLong
    }

    /** Re-land the missing suffix of an interrupted page: the target's
      * in-window count identifies the landed group prefix (strictly
      * increasing prefix sums — group sizes are nonzero). */
    /** Returns the window's FULL entry count — the interrupted run never
      * reached markDone, so none of it is in the imported count yet. */
    def recoverPending(topic: String, lo: Long, hi: Long): Long = {
      val gs = groupsOf(
        try fetch(topic, lo, hi)
        catch {
          // the window fit one frame when its intent was written, so an
          // overflow on re-fetch implies the source gained in-window
          // entries between crash and resume — the exact consistency
          // violation the prefix-sum check below diagnoses; name it the
          // same way instead of leaking a raw wire error
          case e: WireException if e.code == 507 =>
            throw new IllegalStateException(
              s"cannot resume $topic window [${fmtUs(lo)}, ${fmtUs(hi)}]: " +
                "the window fit one wire frame when its intent was written " +
                "but now overflows the frame cap — the source gained " +
                "in-window entries since the interrupted run; re-import " +
                "from scratch", e)
        })
      val landed = target.query(
          s"all in $topic between ~(${fmtUs(lo)}), ~(${fmtUs(hi)})")
        .filter(col("topic") === topic).count()
      val prefixSums = gs.scanLeft(0L)(_ + _._2.size)
      val k = prefixSums.indexOf(landed)
      if (k < 0) throw new IllegalStateException(
        s"cannot resume $topic window [${fmtUs(lo)}, ${fmtUs(hi)}]: target has " +
          s"$landed in-window entries, which is no prefix of the source page " +
          s"(group sizes ${gs.map(_._2.size).mkString(",")}) — the source " +
          "gained in-window entries since the interrupted run, or another " +
          "writer touched the topic; re-import from scratch")
      val suffix = gs.drop(k)
      landGroups(suffix)
      pages.incrementAndGet()
      entries.addAndGet(suffix.map(_._2.size).sum.toLong)
      onPage(topic, lo, hi)
      gs.map(_._2.size.toLong).sum
    }

    def importTopic(topic: String, n: Long, firstUs: Long, lastUs: Long): Unit = {
      // follow cycles hold back the boundary microsecond — the source may
      // still be appending into the µs STATS reported as `last` (see
      // [[followOnce]]); the batch path imports through it
      val effLast = if (holdback) lastUs - 1 else lastUs
      val prior = stateLock.synchronized(state.get(topic))
      prior.flatMap(_.pending).foreach { case (lo, hi) =>
        stopIfCancelled()
        val recovered = recoverPending(topic, lo, hi)
        markDone(topic, hi, recovered)
      }
      val resumed = stateLock.synchronized(state.get(topic))
      val done = resumed.map(s => math.max(s.done,
        s.pending.map(_._2).getOrElse(Long.MinValue))).getOrElse(Long.MinValue)
      val startUs = if (done == Long.MinValue) firstUs else done + 1
      if (startUs <= effLast) {
        // evenly spaced µs bounds over [start, effLast]; window i is
        // [b_i, b_{i+1} − 1µs], the final closes exactly at effLast —
        // disjoint and covering. BigInt: span·i can exceed Long for
        // many-page topics even at µs scale.
        //
        // Window count is sized from the TAIL (n − imported), not the
        // topic total: a follow cycle over a crawl-scale topic imports
        // only its new entries, and total-sized paging would issue
        // O(corpus/pageSize) mostly-empty QUERY round-trips per poll —
        // cost ∝ corpus instead of ∝ tail (r16 ADVICE). The estimate can
        // run low (source appended since STATS; pre-`imported` sidecars
        // load 0 only on the BATCH resume path, where imported ≈ 0 is the
        // old behavior anyway) — the 507 split-on-overflow bounds any
        // over-dense window, so underestimates cost splits, never data.
        val imported = resumed.map(_.imported).getOrElse(0L)
        val tail = math.max(1L, n - imported)
        val nPages = math.max(1L, (tail + pageSize - 1) / pageSize)
        val span = Math.subtractExact(effLast, startUs)
        def bound(i: Long): Long = startUs + (BigInt(span) * i / nPages).toLong
        (0L until nPages).foreach { i =>
          stopIfCancelled()
          val lo = bound(i)
          val hi = if (i == nPages - 1) effLast else bound(i + 1) - 1
          if (hi >= lo) {
            val landed = importWindow(topic, lo - 1, lo, hi)
            markDone(topic, hi, landed)
          }
        }
      }
      markDone(topic, math.max(done, effLast))
    }

    val work = stats.toSeq.sortBy(_._1)
    if (concurrency == 1) {
      work.foreach { case (topic, (n, firstUs, lastUs)) =>
        importTopic(topic, n, firstUs, lastUs)
      }
    } else {
      // one worker owns one topic end-to-end; the first failure, in
      // whichever order the workers finish, cancels the rest: each stops
      // at its next window boundary with its sidecar marks intact for
      // resume. The run waits for every worker to stop, so no worker lands
      // a page behind a caller that already saw the failure (a resume
      // started then would land the same window twice). The wait is
      // bounded: a worker blocked reading from a stalled server has no
      // read timeout and ignores interrupts, so after WorkerStopWaitSeconds
      // the run returns or rethrows the first failure with that worker
      // still running.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(concurrency, math.max(1, work.size)))
      val finished = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
      try {
        work.foreach { case (topic, (n, firstUs, lastUs)) =>
          finished.submit(() => importTopic(topic, n, firstUs, lastUs))
        }
        work.foreach { _ =>
          try finished.take().get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw Option(e.getCause).getOrElse(e)
          }
        }
      } finally {
        cancelled.set(true)
        pool.shutdown()
        if (!pool.awaitTermination(WorkerStopWaitSeconds, java.util.concurrent.TimeUnit.SECONDS))
          pool.shutdownNow()
      }
    }
    // follow cycles keep the sidecar — it IS the inter-poll high-water
    // state; the batch path deletes it as its completion marker
    if (!keepSidecar) Files.deleteIfExists(stateFile(targetRoot))
    Result(topics.size, entries.get(), pages.get())
  }
}

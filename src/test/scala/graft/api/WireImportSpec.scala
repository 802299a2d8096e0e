package graft.api

import java.nio.file.Files
import java.sql.Timestamp

import graft.Queries
import graft.SparkSpec
import graft.fql.Compiler
import graft.sources.WireImport
import org.apache.spark.sql.functions.col

/** Round-trip of the live-server import path: serve a populated store
  * over the wire, [[WireImport]] it into a second store through paged
  * QUERY windows, and compare every entry — topics, schemas, times,
  * typed values — between source and target engines. */
class WireImportSpec extends SparkSpec {

  private val fixedClock: Compiler.Clock = () => 1735689600L * 1000000000L

  private def entriesOf(root: String): Seq[(Timestamp, String, String)] = {
    val lc = new LocalClient(spark, root, fixedClock)
    lc.query("all").orderBy("time", "topic")
      .select(col("time"), col("topic"), col("value").cast("string"))
      .collect().toSeq
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2)))
  }

  test("wire import round-trip: paged QUERY windows land every entry, " +
      "typed, across mixed schemas; empty topics keep their schema") {
    val srcRoot = Queries.scratchDir("graft_wi_src")
    val dstRoot = Queries.scratchDir("graft_wi_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    // two schemas + a composite + an empty topic; 23 entries so a
    // pageSize of 5 forces multi-window paging with uneven remainders
    src.createTopic("/m/f", "float64")
    src.createTopic("/m/s", "string")
    src.createTopic("/m/c", """{"x": int32, "y": string}""")
    src.createTopic("/m/empty", "boolean")
    val t0 = 1735600000L * 1000L // ms
    (0 until 10).foreach(i =>
      src.append("/m/f", 1.5 * i, new Timestamp(t0 + i * 1000L)))
    (0 until 10).foreach(i =>
      src.append("/m/s", s"msg$i", new Timestamp(t0 + i * 1500L)))
    (0 until 3).foreach(i =>
      src.append("/m/c", org.apache.spark.sql.Row(i, s"p$i"),
        new Timestamp(t0 + i * 700L)))

    val server = new WireServer(spark, Map("live" -> srcRoot), "live", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "live")
      try {
        val r = WireImport.importInto(spark, client, dstRoot, pageSize = 5)
        assert(r.topics == 4)
        assert(r.entries == 23L)
        assert(r.pages >= 5) // 10/5 + 10/5 + 3/5 windows at minimum
      } finally client.close()
    } finally server.close()

    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
    // catalog parity including the topic with no data
    val dst = new LocalClient(spark, dstRoot, fixedClock)
    val srcTopics = src.listTopics.toMap
    assert(dst.listTopics.toMap == srcTopics)
    assert(srcTopics("/m/empty") == "boolean")
  }

  test("decade-spanning topics page without Long overflow in the bounds") {
    // span ~54 years of ns (~1.7e18); with 8 pages the naive span*i
    // bound arithmetic exceeds 2^63 and silently corrupts the windows —
    // every entry must still land exactly once
    val srcRoot = Queries.scratchDir("graft_wi_wide")
    val dstRoot = Queries.scratchDir("graft_wi_wide_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/wide", "int64")
    val years = Seq(1970, 1980, 1990, 2000, 2005, 2010, 2015, 2024)
    years.zipWithIndex.foreach { case (y, i) =>
      val ts = new Timestamp(java.time.Instant.parse(f"$y%04d-06-01T00:00:00Z").toEpochMilli)
      src.append("/wide", i.toLong, ts)
    }
    val server = new WireServer(spark, Map("w" -> srcRoot), "w", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "w")
      try {
        val r = WireImport.importInto(spark, client, dstRoot, pageSize = 1)
        assert(r.entries == years.length.toLong)
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("adjacent windows never share a microsecond: consecutive-µs entries " +
      "land exactly once through many non-trivially-divided windows") {
    // 100 entries one µs apart with pageSize 3 → 34 windows whose evenly
    // interpolated bounds fall on arbitrary µs values; an earlier design
    // computed NANOSECOND bounds stepped by 1 ns, and any non-µs-aligned
    // bound made window i's hi and window i+1's lo truncate to the SAME
    // microsecond — an entry at that µs landed twice
    val srcRoot = Queries.scratchDir("graft_wi_us")
    val dstRoot = Queries.scratchDir("graft_wi_us_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/dense", "int64")
    val sec = 1735600000L
    (0 until 100).foreach { i =>
      src.append("/dense", i.toLong,
        Timestamp.from(java.time.Instant.ofEpochSecond(sec, i * 1000L)))
    }
    val server = new WireServer(spark, Map("u" -> srcRoot), "u", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "u")
      try {
        val r = WireImport.importInto(spark, client, dstRoot, pageSize = 3)
        assert(r.entries == 100L) // a boundary duplicate would overshoot
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("nested data-bearing topics import exactly once (no descendant " +
      "double-landing through ancestor pages)") {
    // `all in /a` selects /a AND /a/b (FQL prefix semantics) while STATS
    // lists both separately — without the exact-topic clamp, /a/b's
    // entries land once via /a's pages and again via their own
    val srcRoot = Queries.scratchDir("graft_wi_nest")
    val dstRoot = Queries.scratchDir("graft_wi_nest_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/a", "int64")
    src.createTopic("/a/b", "int64") // inherits-compatible child WITH data
    val t0 = 1735600000L * 1000L
    (0 until 5).foreach(i => src.append("/a", i.toLong, new Timestamp(t0 + i * 1000L)))
    (0 until 5).foreach(i => src.append("/a/b", (10 + i).toLong,
      new Timestamp(t0 + i * 1000L + 500L)))
    val server = new WireServer(spark, Map("n" -> srcRoot), "n", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "n")
      try {
        val r = WireImport.importInto(spark, client, dstRoot, pageSize = 3)
        assert(r.entries == 10L)
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("bursty topics split windows on the wire frame cap instead of dying") {
    // 190 of 200 entries inside one second of a day-long topic: the even
    // time windows put nearly everything in one page, whose response
    // overflows a (deliberately tiny) frame cap with wire error 507; the
    // import must recursively split that window until pages fit
    val srcRoot = Queries.scratchDir("graft_wi_burst")
    val dstRoot = Queries.scratchDir("graft_wi_burst_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/burst", "int64")
    val sec = 1735600000L
    (0 until 190).foreach { i => // the burst: ms-spaced inside one second
      src.append("/burst", i.toLong,
        Timestamp.from(java.time.Instant.ofEpochSecond(sec, i * 5000000L)))
    }
    (0 until 10).foreach { i => // the sparse tail over a day
      src.append("/burst", (1000 + i).toLong,
        new Timestamp((sec + 3600L + i * 8000L) * 1000L))
    }
    val server = new WireServer(spark, Map("b" -> srcRoot), "b", fixedClock,
      maxResponseBytes = 4096)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "b")
      try {
        val r = WireImport.importInto(spark, client, dstRoot, pageSize = 50)
        assert(r.entries == 200L)
        assert(r.pages > 4) // the burst window had to split
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("bursty topics split on the CLIENT's receive cap against an " +
      "upstream-style server that sends oversized frames") {
    // the upstream reference server has NO send-side response cap (its
    // 100 MiB limit is receiver-side, pkg/proto/message.go:96-98): here
    // the server's send cap stays at the 100 MiB default and only the
    // client's 4 KiB receive cap trips — the import must still split the
    // burst window, now off the client-detected 507
    val srcRoot = Queries.scratchDir("graft_wi_upburst")
    val dstRoot = Queries.scratchDir("graft_wi_upburst_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/burst", "int64")
    val sec = 1735600000L
    (0 until 190).foreach { i =>
      src.append("/burst", i.toLong,
        Timestamp.from(java.time.Instant.ofEpochSecond(sec, i * 5000000L)))
    }
    (0 until 10).foreach { i =>
      src.append("/burst", (1000 + i).toLong,
        new Timestamp((sec + 3600L + i * 8000L) * 1000L))
    }
    val server = new WireServer(spark, Map("ub" -> srcRoot), "ub", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "ub",
        backoffBaseMs = 1, maxFrameBytes = 4096)
      try {
        val r = WireImport.importInto(spark, client, dstRoot, pageSize = 50)
        assert(r.entries == 200L)
        assert(r.pages > 4) // the burst window had to split
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("a pending window whose re-fetch overflows the frame cap fails with " +
      "the named source-gained-entries diagnosis, not a raw wire error") {
    // the window fit one frame when its intent was written; overflow on
    // re-fetch implies the source grew in-window between crash and resume
    val srcRoot = Queries.scratchDir("graft_wi_grow")
    val dstRoot = Queries.scratchDir("graft_wi_grow_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/g", "int64")
    val sec = 1735600000L
    (0 until 100).foreach(i => src.append("/g", i.toLong,
      Timestamp.from(java.time.Instant.ofEpochSecond(sec, i * 1000000L))))
    val server = new WireServer(spark, Map("g" -> srcRoot), "g", fixedClock,
      maxResponseBytes = 2048)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "g")
      try {
        val loUs = sec * 1000000L
        val hiUs = sec * 1000000L + 99000L
        new LocalClient(spark, dstRoot).createTopic("/g", "int64")
        WireImport.saveState(dstRoot,
          Map("/g" -> WireImport.TopicState(loUs - 1, Some((loUs, hiUs)))))
        val e = intercept[IllegalStateException] {
          WireImport.importInto(spark, client, dstRoot, pageSize = 200,
            resume = true)
        }
        assert(e.getMessage.contains("gained"))
        assert(e.getCause.isInstanceOf[WireException])
      } finally client.close()
    } finally server.close()
  }

  test("a single microsecond that alone overflows the frame cap fails " +
      "with a named error, not an infinite split") {
    val srcRoot = Queries.scratchDir("graft_wi_hotus")
    val dstRoot = Queries.scratchDir("graft_wi_hotus_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/hot", "int64")
    val at = new Timestamp(1735600000L * 1000L)
    (0 until 100).foreach(i => src.append("/hot", i.toLong, at))
    val server = new WireServer(spark, Map("h" -> srcRoot), "h", fixedClock,
      maxResponseBytes = 2048)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "h")
      try {
        val e = intercept[IllegalStateException] {
          WireImport.importInto(spark, client, dstRoot, pageSize = 10)
        }
        assert(e.getMessage.contains("unsplittable"))
      } finally client.close()
    } finally server.close()
  }

  test("resume after a mid-topic crash lands the remaining entries " +
      "without duplicates or gaps") {
    val srcRoot = Queries.scratchDir("graft_wi_res")
    val dstRoot = Queries.scratchDir("graft_wi_res_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/r", "int64")
    val t0 = 1735600000L * 1000L
    (0 until 40).foreach(i => src.append("/r", i.toLong, new Timestamp(t0 + i * 1000L)))
    val server = new WireServer(spark, Map("r" -> srcRoot), "r", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "r")
      try {
        // run 1: "crash" after the second page has landed
        var seen = 0
        val boom = intercept[RuntimeException] {
          WireImport.importInto(spark, client, dstRoot, pageSize = 10,
            onPage = (_, _, _) => { seen += 1; if (seen == 2) sys.error("crash") })
        }
        assert(boom.getMessage == "crash")
        assert(java.nio.file.Files.exists(WireImport.stateFile(dstRoot)))
        // run 2: resume — re-verifies the interrupted window (already fully
        // landed → lands nothing for it) and pages the rest afresh
        val r2 = WireImport.importInto(spark, client, dstRoot, pageSize = 10,
          resume = true)
        assert(r2.entries == 20L) // exactly the 20 not landed before the crash
        assert(!java.nio.file.Files.exists(WireImport.stateFile(dstRoot)))
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("resume with an unlanded pending window re-lands it exactly once") {
    // the other recovery boundary: intent written, crash BEFORE the page's
    // write job committed — the target has zero in-window entries and the
    // whole page must land on resume
    val srcRoot = Queries.scratchDir("graft_wi_res0")
    val dstRoot = Queries.scratchDir("graft_wi_res0_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/r0", "int64")
    val sec = 1735600000L
    (0 until 10).foreach(i => src.append("/r0", i.toLong,
      Timestamp.from(java.time.Instant.ofEpochSecond(sec, i * 1000000000L))))
    val server = new WireServer(spark, Map("z" -> srcRoot), "z", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "z")
      try {
        // hand-write the sidecar an interrupted import would have left:
        // intent for the topic's whole range, nothing landed yet
        val loUs = sec * 1000000L
        val hiUs = (sec + 9) * 1000000L
        new LocalClient(spark, dstRoot).createTopic("/r0", "int64")
        WireImport.saveState(dstRoot,
          Map("/r0" -> WireImport.TopicState(loUs - 1, Some((loUs, hiUs)))))
        val r = WireImport.importInto(spark, client, dstRoot, pageSize = 100,
          resume = true)
        assert(r.entries == 10L)
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("concurrent topic paging lands every entry exactly once across " +
      "mixed schemas (3 workers over a 3-connection pool)") {
    val srcRoot = Queries.scratchDir("graft_wi_conc")
    val dstRoot = Queries.scratchDir("graft_wi_conc_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/c/f", "float64")
    src.createTopic("/c/s", "string")
    src.createTopic("/c/i", "int64")
    src.createTopic("/c/empty", "boolean")
    val t0 = 1735600000L * 1000L
    (0 until 12).foreach(i => src.append("/c/f", 0.5 * i, new Timestamp(t0 + i * 1000L)))
    (0 until 12).foreach(i => src.append("/c/s", s"m$i", new Timestamp(t0 + i * 900L)))
    (0 until 12).foreach(i => src.append("/c/i", i.toLong, new Timestamp(t0 + i * 1100L)))
    val server = new WireServer(spark, Map("cc" -> srcRoot), "cc", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "cc", poolSize = 3)
      try {
        val r = WireImport.importInto(spark, client, dstRoot, pageSize = 5,
          concurrency = client.poolConnections)
        assert(r.topics == 4)
        assert(r.entries == 36L)
        assert(r.pages >= 9) // 3 topics × ≥3 windows
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
    assert(!java.nio.file.Files.exists(WireImport.stateFile(dstRoot)))
  }

  test("crash under concurrency keeps per-topic sidecar marks; concurrent " +
      "resume completes without duplicates or gaps") {
    val srcRoot = Queries.scratchDir("graft_wi_cres")
    val dstRoot = Queries.scratchDir("graft_wi_cres_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    val t0 = 1735600000L * 1000L
    Seq("/k/a", "/k/b", "/k/c").foreach { t =>
      src.createTopic(t, "int64")
      (0 until 20).foreach(i => src.append(t, i.toLong, new Timestamp(t0 + i * 1000L)))
    }
    val server = new WireServer(spark, Map("kk" -> srcRoot), "kk", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "kk", poolSize = 3)
      try {
        // run 1: blow up after the third page lands, with three topics
        // paging in parallel — the landed set at the crash is owned by
        // whichever workers got there first
        val seen = new java.util.concurrent.atomic.AtomicInteger(0)
        val boom = intercept[RuntimeException] {
          WireImport.importInto(spark, client, dstRoot, pageSize = 5,
            concurrency = 3,
            onPage = (_, _, _) => { if (seen.incrementAndGet() == 3) sys.error("crash") })
        }
        assert(boom.getMessage == "crash")
        assert(java.nio.file.Files.exists(WireImport.stateFile(dstRoot)))
        // run 2: concurrent resume — per-topic marks route each worker
        // past what its topic already landed
        WireImport.importInto(spark, client, dstRoot, pageSize = 5,
          resume = true, concurrency = 3)
        assert(!java.nio.file.Files.exists(WireImport.stateFile(dstRoot)))
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("resume sidecar state round-trips through its JSON encoding") {
    val root = Queries.scratchDir("graft_wi_state")
    val st = Map(
      "/plain" -> WireImport.TopicState(123456789L, None),
      "/counted" -> WireImport.TopicState(7L, None, 4200L),
      "/with \"quote\"" -> WireImport.TopicState(-5L, Some((-10L, 42L)), 17L))
    WireImport.saveState(root, st)
    assert(WireImport.loadState(root) == st)
    // a pre-`imported` sidecar (older library version) loads with count 0
    Files.write(WireImport.stateFile(root),
      """{ "/old": "done=99 pending=1:2" }""".getBytes("UTF-8"))
    assert(WireImport.loadState(root) ==
      Map("/old" -> WireImport.TopicState(99L, Some((1L, 2L)), 0L)))
  }

  test("follow cycles page the TAIL, not the corpus: a poll over an " +
      "already-imported topic costs O(new entries / pageSize) queries") {
    val srcRoot = Queries.scratchDir("graft_wft_src")
    val dstRoot = Queries.scratchDir("graft_wft_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/big", "int64")
    val t0 = 1735600000L * 1000L
    (0 until 40).foreach(i =>
      src.append("/big", i.toLong, new Timestamp(t0 + i * 1000L)))
    val server = new WireServer(spark, Map("d" -> srcRoot), "d", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "d")
      try {
        val r1 = WireImport.followOnce(spark, client, dstRoot, pageSize = 4)
        assert(r1.pages >= 10) // the initial backfill IS corpus-sized
        src.append("/big", 100L, new Timestamp(t0 + 100 * 1000L))
        src.append("/big", 101L, new Timestamp(t0 + 101 * 1000L))
        val r2 = WireImport.followOnce(spark, client, dstRoot, pageSize = 4)
        // total-sized paging would re-issue ~ceil(42/4) = 11 windows over
        // the tail span; tail-sized paging issues 1 (the estimator's
        // window), at most 2 with a 507 split
        assert(r2.pages <= 2, s"follow cycle paged ${r2.pages} windows")
        assert(r2.entries > 0L)
        val r3 = WireImport.followOnce(spark, client, dstRoot, pageSize = 4,
          closeBoundary = true)
        assert(r1.entries + r2.entries + r3.entries == 42L)
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("follow: live source keeps appending between poll cycles; final " +
      "store == source entry-for-entry, no window double-lands") {
    val srcRoot = Queries.scratchDir("graft_wf_src")
    val dstRoot = Queries.scratchDir("graft_wf_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/live/a", "int64")
    src.createTopic("/live/b", "string")
    val t0 = 1735600000L * 1000L // ms
    def appendBatch(offset: Int, n: Int): Unit = (0 until n).foreach { i =>
      src.append("/live/a", (offset + i).toLong,
        new Timestamp(t0 + (offset + i) * 1000L))
      src.append("/live/b", s"m${offset + i}",
        new Timestamp(t0 + (offset + i) * 1100L))
    }
    appendBatch(0, 6)
    val server = new WireServer(spark, Map("live" -> srcRoot), "live", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "live")
      try {
        // cycle 1: imports everything except each topic's boundary µs
        val r1 = WireImport.followOnce(spark, client, dstRoot, pageSize = 4)
        assert(r1.entries == 10L) // 12 appended − 2 held-back boundary entries
        // source keeps appending between polls (through the local store
        // only to control timestamps — data dirs are re-scanned per
        // query, so the appends are live to the server)
        appendBatch(6, 5)
        // cycle 2: picks up the held-back entries + the new window
        val r2 = WireImport.followOnce(spark, client, dstRoot, pageSize = 4)
        assert(r2.entries > 0L)
        appendBatch(11, 3)
        // a NEW topic lands mid-follow, created AND fed over the WIRE
        // (the serving store owns the catalog — a second ParquetStore
        // over the same root is the documented two-writers anti-pattern,
        // so it comes after the last local-store append); the wire append
        // stamps the fixed clock (2025-01-01), a µs past every batch entry
        client.create("/live/new", "float64")
        client.append("/live/new",
          graft.engine.Codec.encode(graft.engine.FossilSchema.SFloat64, 2.5))
        // quiesced now: the close cycle creates + drains the new topic
        // and every boundary microsecond
        val r3 = WireImport.followOnce(spark, client, dstRoot, pageSize = 4,
          closeBoundary = true)
        // exactly-once across cycles: counts sum to the source total (29)
        // AND the per-entry compare below rules out substitutions
        info(s"r1=${r1.entries} r2=${r2.entries} r3=${r3.entries}")
        assert(r1.entries + r2.entries + r3.entries == 29L)
        // idempotent re-poll after close: nothing new, nothing re-landed
        val r4 = WireImport.followOnce(spark, client, dstRoot, pageSize = 4,
          closeBoundary = true)
        assert(r4.entries == 0L)
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
    // fresh readers on both roots: `src`'s in-memory catalog predates the
    // wire-created topic, a fresh store loads the persisted catalog.json
    val dst = new LocalClient(spark, dstRoot, fixedClock)
    val srcFresh = new LocalClient(spark, srcRoot, fixedClock)
    assert(dst.listTopics.toMap == srcFresh.listTopics.toMap)
    assert(dst.listTopics.toMap.contains("/live/new"))
  }

  test("follow loop: polls until quiesced, then one close cycle drains") {
    val srcRoot = Queries.scratchDir("graft_wfl_src")
    val dstRoot = Queries.scratchDir("graft_wfl_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/t", "int64")
    val t0 = 1735600000L * 1000L
    (0 until 5).foreach(i => src.append("/t", i.toLong, new Timestamp(t0 + i * 1000L)))
    val server = new WireServer(spark, Map("d" -> srcRoot), "d", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "d")
      try {
        var cycles = 0
        val r = WireImport.follow(spark, client, dstRoot,
          quiesced = () => cycles >= 2, pageSize = 3, pollIntervalMs = 0L,
          onCycle = (_, _) => {
            // the source appends WHILE the loop polls (before quiescing)
            if (cycles < 2)
              src.append("/t", (100 + cycles).toLong,
                new Timestamp(t0 + (100 + cycles) * 1000L))
            cycles += 1
          })
        assert(r.entries == 7L) // 5 initial + 2 appended mid-loop
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }

  test("single-entry topics and identical timestamps page safely") {
    val srcRoot = Queries.scratchDir("graft_wi_one")
    val dstRoot = Queries.scratchDir("graft_wi_one_dst")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    val at = new Timestamp(1735600000L * 1000L)
    src.createTopic("/one", "int64")
    src.createTopic("/same", "int64")
    src.append("/one", 7L, at) // span = 0: one window [t, t]
    src.append("/same", 1L, at) // two entries at the SAME instant
    src.append("/same", 2L, at)
    val server = new WireServer(spark, Map("d" -> srcRoot), "d", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "d")
      try {
        val r = WireImport.importInto(spark, client, dstRoot, pageSize = 1)
        assert(r.entries == 3L)
      } finally client.close()
    } finally server.close()
    assert(entriesOf(dstRoot) == entriesOf(srcRoot))
  }
}

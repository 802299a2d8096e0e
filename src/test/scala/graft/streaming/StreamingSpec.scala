package graft.streaming


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.Queries
import graft.SparkSpec
import StreamingIngest._

/** Structured Streaming: ingest sink, windowed stats, stateful greedy sample. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Queries.scratchDir(prefix)

  test("greedySample carries last-kept state across micro-batches per topic") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Entry]
    val q = greedySample(in.toDS(), intervalUs = 10L)
      .writeStream.format("memory").queryName("gs_out").outputMode("append").start()
    try {
      // batch 1: A@0 keep, A@5 drop, A@10 keep; B@3 keep
      in.addData(Entry(0, "A", 1), Entry(5, "A", 2), Entry(10, "A", 3), Entry(3, "B", 4))
      q.processAllAvailable()
      // batch 2: A@15 drop (last kept 10), A@20 keep; B@9 drop, B@13 keep
      in.addData(Entry(15, "A", 5), Entry(20, "A", 6), Entry(9, "B", 7), Entry(13, "B", 8))
      q.processAllAvailable()
      val kept = spark.table("gs_out").as[Entry].collect().map(e => (e.t_us, e.topic)).toSet
      assert(kept == Set((0L, "A"), (10L, "A"), (20L, "A"), (3L, "B"), (13L, "B")))
    } finally q.stop()
  }

  test("windowedStats aggregates per tumbling window and topic") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Entry]
    val q = windowedStats(in.toDF(), "10 seconds", "1 minute")
      .writeStream.format("memory").queryName("ws_out").outputMode("complete").start()
    try {
      val s = 1000000L // 1s in µs
      in.addData(Entry(1 * s, "A", 1.0), Entry(2 * s, "A", 2.0), Entry(11 * s, "A", 4.0))
      q.processAllAvailable()
      val rows = spark.table("ws_out")
        .select("topic", "n", "sum_value").as[(String, Long, Double)].collect().toSet
      assert(rows == Set(("A", 2L, 3.0), ("A", 1L, 4.0)))
    } finally q.stop()
  }

  test("sliding windows overlap; session windows close on inactivity gaps") {
    implicit val ctx = spark.sqlContext
    val s = 1000000L
    val in1 = MemoryStream[Entry]
    val q1 = slidingStats(in1.toDF(), "10 seconds", "5 seconds", "1 minute")
      .writeStream.format("memory").queryName("sw_out").outputMode("complete").start()
    try {
      in1.addData(Entry(7 * s, "A", 1.0))
      q1.processAllAvailable()
      // one event at t=7s lands in windows [0,10) and [5,15)
      assert(spark.table("sw_out").count() == 2)
    } finally q1.stop()

    val in2 = MemoryStream[Entry]
    val q2 = sessionStats(in2.toDF(), "5 seconds", "1 minute")
      .writeStream.format("memory").queryName("ssw_out").outputMode("complete").start()
    try {
      // two bursts separated by > 5s gap → two sessions of 2 and 1 events
      in2.addData(Entry(1 * s, "A", 1.0), Entry(3 * s, "A", 1.0), Entry(20 * s, "A", 1.0))
      q2.processAllAvailable()
      val ns = spark.table("ssw_out").select("n").as[Long].collect().sorted.toSeq
      assert(ns == Seq(1L, 2L))
    } finally q2.stop()
  }

  test("append mode: watermark closes windows, late data admitted before it and dropped after") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // pin the no-data micro-batch contract: after a batch advances the
    // watermark, an extra batch emits the windows it closed (default on)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val s = 1000000L
    val in = MemoryStream[Entry]
    val q = windowedStats(in.toDF(), "1 minute", "30 seconds")
      .writeStream.format("memory").queryName("aw_out").outputMode("append").start()
    def emitted(): Set[(Long, String, Long, Double)] = spark.table("aw_out")
      .select((unix_micros(col("w_start")) / (60 * s)).cast("long"), col("topic"),
        col("n"), col("sum_value"))
      .as[(Long, String, Long, Double)].collect().toSet
    try {
      in.addData(Entry(10 * s, "A", 1.0), Entry(70 * s, "A", 2.0))
      q.processAllAvailable() // watermark 70-30 = 40 s: nothing closed yet
      assert(emitted().isEmpty)
      // t=50 s is OUT OF ORDER (after t=70) but NEWER than the 40 s
      // watermark → admitted into the still-open [0,60) window
      in.addData(Entry(50 * s, "A", 8.0), Entry(150 * s, "A", 4.0))
      q.processAllAvailable() // watermark 120 s: closes [0,60) and [60,120)
      assert(emitted() == Set((0L, "A", 2L, 9.0), (1L, "A", 1L, 2.0)))
      // t=55 s is OLDER than the 120 s watermark → dropped, NOT re-opened;
      // emitted [0,60) row stays final (no retraction in append mode)
      in.addData(Entry(55 * s, "A", 99.0), Entry(230 * s, "A", 16.0))
      q.processAllAvailable() // watermark 200 s: closes [120,180)
      assert(emitted() == Set((0L, "A", 2L, 9.0), (1L, "A", 1L, 2.0), (2L, "A", 1L, 4.0)))
      in.addData(Entry(310 * s, "A", 32.0))
      q.processAllAvailable() // watermark 280 s: closes [180,240); [300,360) open
      val rows = emitted()
      assert(rows == Set((0L, "A", 2L, 9.0), (1L, "A", 1L, 2.0),
        (2L, "A", 1L, 4.0), (3L, "A", 1L, 16.0)))
      // equivalence contract: closed-window output == batch GROUP BY over the
      // ADMITTED rows (everything ingested minus the dropped late row),
      // restricted to windows the final 280 s watermark closed
      val admitted = Seq((10, 1.0), (70, 2.0), (50, 8.0), (150, 4.0), (230, 16.0), (310, 32.0))
      val batch = admitted.toDF("t_s", "value")
        .groupBy(window(timestamp_seconds(col("t_s")), "1 minute"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .filter(unix_seconds(col("window.end")) <= 280)
        .select((unix_seconds(col("window.start")) / 60).cast("long"),
          lit("A"), col("n"), col("sum_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(rows == batch)
    } finally q.stop()
  }

  test("append mode: session windows close when the watermark passes end (last + gap)") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val s = 1000000L
    val in = MemoryStream[Entry]
    // gap 10 s, watermark delay 30 s — mirrors the batch q_session_window
    // semantics: session end = last event + gap, exclusive
    val q = sessionStats(in.toDF(), "10 seconds", "30 seconds")
      .writeStream.format("memory").queryName("asw_out").outputMode("append").start()
    def emitted(): Set[(Long, Long, String, Long)] = spark.table("asw_out")
      .select((unix_micros(col("s_start")) / s).cast("long"),
        (unix_micros(col("s_end")) / s).cast("long"), col("topic"), col("n"))
      .as[(Long, Long, String, Long)].collect().toSet
    try {
      // one session: events at 10 s and 15 s merge (gap 5 < 10) → [10, 25)
      in.addData(Entry(10 * s, "A", 1.0), Entry(15 * s, "A", 1.0))
      q.processAllAvailable() // watermark 15-30 < 0: nothing closed
      assert(emitted().isEmpty)
      in.addData(Entry(100 * s, "A", 1.0))
      q.processAllAvailable() // watermark 70 ≥ session end 25 → emitted
      assert(emitted() == Set((10L, 25L, "A", 2L)))
      // t = 20 s is older than the 70 s watermark → dropped; the emitted
      // session stays final (no retraction), and the open [100, 110)
      // session closes once the watermark passes it
      in.addData(Entry(20 * s, "A", 99.0), Entry(200 * s, "A", 1.0))
      q.processAllAvailable() // watermark 170 closes [100, 110)
      assert(emitted() == Set((10L, 25L, "A", 2L), (100L, 110L, "A", 1L)))
      // closed-session output ≡ the batch session_window aggregation over
      // the admitted rows, restricted to sessions the watermark closed —
      // the same equivalence contract as the tumbling append-mode case
      val admitted = Seq(10L, 15L, 100L, 200L)
      val batch = admitted.toDF("t_s")
        .groupBy(session_window(timestamp_seconds(col("t_s")), "10 seconds"))
        .agg(count(lit(1)).as("n"))
        .filter(unix_seconds(col("session_window.end")) <= 170)
        .select(unix_seconds(col("session_window.start")),
          unix_seconds(col("session_window.end")), lit("A"), col("n"))
        .as[(Long, Long, String, Long)].collect().toSet
      assert(emitted() == batch)
    } finally q.stop()
  }

  test("streaming dedup drops repeated content within the watermark") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[Entry]
    val entries = in.toDF()
      .withColumn("time", timestamp_micros(col("t_us")))
      .withColumn("content_hash", md5(concat(col("topic"), lit("|"), col("value"))))
    val q = dedupWithinWatermark(entries, "time", "10 minutes", Seq("content_hash"))
      .writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    try {
      val s = 1000000L
      in.addData(Entry(1 * s, "/a", 1.0), Entry(2 * s, "/a", 1.0), Entry(3 * s, "/a", 2.0))
      q.processAllAvailable()
      in.addData(Entry(4 * s, "/a", 1.0)) // still duplicate within watermark
      q.processAllAvailable()
      assert(spark.table("dd_out").count() == 2) // (a,1.0) once + (a,2.0)
    } finally q.stop()
  }

  test("continuous FQL: filter/map compile onto a stream, state carries for sample") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[Entry]
    val entries = in.toDF().select(
      timestamp_micros(col("t_us")).as("time"), col("topic"), col("value"))
    val out = StreamingFql.query(
      "all in /s | filter v -> v > 10 | map v -> v * 2", entries,
      clock = () => 4102444800L * 1000000000L) // far-future fixed "now"
    val q = out.writeStream.format("memory").queryName("cfql_out")
      .outputMode("append").start()
    try {
      in.addData(Entry(1, "/s/a", 5.0), Entry(2, "/s/a", 20.0), Entry(3, "/t/x", 99.0))
      q.processAllAvailable()
      val vals = spark.table("cfql_out").select("value").as[Double].collect().toSet
      assert(vals == Set(40.0)) // 5 filtered out, /t/x not under /s, 20*2 kept
    } finally q.stop()
  }

  test("continuous FQL: sample quantifier is stateful, reduce rejected") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[Entry]
    val entries = in.toDF().select(
      timestamp_micros(col("t_us")).as("time"), col("topic"), col("value"))
    // @second = 1e9 ns → 1e6 µs interval
    val out = StreamingFql.query("sample(@second) in /s", entries)
    val q = out.writeStream.format("memory").queryName("cfql_s")
      .outputMode("append").start()
    try {
      in.addData(Entry(0, "/s/a", 1.0), Entry(500000, "/s/a", 2.0))
      q.processAllAvailable()
      in.addData(Entry(900000, "/s/a", 3.0), Entry(1000000, "/s/a", 4.0))
      q.processAllAvailable()
      val ts = spark.table("cfql_s").select(unix_micros(col("time"))).as[Long].collect().toSet
      assert(ts == Set(0L, 1000000L)) // greedy carry across batches
    } finally q.stop()

    // agg-shaped reduce compiles to a streaming aggregation (O(1) state,
    // complete mode); only the general fold is rejected (unbounded state)
    assert(StreamingFql.query("all in /s | reduce a, b -> a + b", entries).isStreaming)
    val e = intercept[graft.fql.FqlException] {
      StreamingFql.query("all in /s | reduce a, b -> a * b", entries)
    }
    assert(e.getMessage.contains("general-fold"))
    // sample ∘ reduce would chain flatMapGroupsWithState into a global
    // aggregation — rejected with an FQL-level message, not Spark's
    // opaque UnsupportedOperationChecker failure at sink start
    val e2 = intercept[graft.fql.FqlException] {
      StreamingFql.query("sample(@hour) in /s | reduce a, b -> a + b", entries)
    }
    assert(e2.getMessage.contains("sample"))
  }

  test("streamed entries land in the store and are FQL-queryable") {
    implicit val ctx = spark.sqlContext
    val root = tmp("graft_store_stream")
    val client = new graft.api.LocalClient(spark, root,
      () => 1735689600L * 1000000000L)
    client.createTopic("/live", "float64")

    val in = MemoryStream[Entry]
    val q = writeToStore(in.toDF(), client, "float64", tmp("graft_store_ckpt"))
    in.addData(
      Entry(1704067200000000L, "/live/a", 1.5), // 2024-01-01; auto-creates
      Entry(1704067260000000L, "/live/a", 2.5)) // /live/a with inheritance
    q.awaitTermination(60000)

    // streamed topics register in the catalog (inheriting /live's float64)
    assert(client.listTopics.toMap.get("/live/a").contains("float64"))
    val out = client.query("all in /live | filter v -> v > 2")
    assert(out.count() == 1)
    assert(out.select("value").collect()(0).getDouble(0) == 2.5)

    // batch appends to the SAME schema group stay visible alongside the
    // streamed files (a FileStreamSink here would plant _spark_metadata and
    // hide them), and compaction keeps both
    client.append("/live/a", 9.0, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"))
    assert(client.query("all in /live").count() == 3)
    client.compact()
    assert(client.query("all in /live").count() == 3)
    assert(client.query("all in /live | filter v -> v > 8").count() == 1)
  }

  test("streaming FQL sample keeps integral values exact (no double widening)") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val big = 9007199254740993L // 2^53 + 1: not representable as a double
    val in = MemoryStream[(Long, String, Long)]
    val entries = in.toDF().toDF("t_us", "topic", "value")
      .select(timestamp_micros(col("t_us")).as("time"), col("topic"), col("value"))
    val out = StreamingFql.query("sample(@second) in /s", entries)
    assert(out.schema("value").dataType == org.apache.spark.sql.types.LongType)
    val q = out.writeStream.format("memory").queryName("ints_s")
      .outputMode("append").start()
    try {
      in.addData((0L, "/s/a", big))
      q.processAllAvailable()
      val got = spark.table("ints_s").select("value").as[Long].collect().toSeq
      assert(got == Seq(big)) // a double round-trip would return 2^53
    } finally q.stop()
  }

  test("checkpointed ingest recovers exactly-once across restarts (the S4 WAL substitution)") {
    // The design claim behind skipping a byte-replay WAL (SURVEY §2.1): the
    // streaming checkpoint + Parquet commit protocol already give
    // crash-recovery with exactly-once file commits. Simulate a crash by
    // abandoning the first query object, then restart from the SAME
    // checkpoint: committed input files must not re-emit, new ones must.
    val in = tmp("graft_rec_in"); val out = tmp("graft_rec_out"); val ck = tmp("graft_rec_ck")
    Seq(Entry(1000000L, "/a/x", 1.0), Entry(2000000L, "/a/y", 2.0)).toDF()
      .write.mode("append").json(in)
    val q1 = writeEntries(fileSource(spark, in), out, ck, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 2)
    Seq(Entry(3000000L, "/a/x", 3.0)).toDF().write.mode("append").json(in)
    val q2 = writeEntries(fileSource(spark, in), out, ck, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val back = spark.read.parquet(out)
    assert(back.count() == 3) // batch-1 rows exactly once, new row appended
    assert(back.agg(org.apache.spark.sql.functions.sum("value")).first().getDouble(0) == 6.0)
  }

  test("file sink writes topic_root-partitioned parquet exactly once") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Entry]
    val out = tmp("graft_stream_out")
    val ckpt = tmp("graft_stream_ckpt")
    val q = writeEntries(in.toDF(), out, ckpt, Trigger.AvailableNow())
    in.addData(Entry(1, "/events/click", 1.0), Entry(2, "/logs/app", 2.0))
    q.awaitTermination(60000)
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    assert(back.select("topic_root").as[String].collect().toSet == Set("events", "logs"))
    // restart on the same source from the same checkpoint: the committed
    // batch does not re-emit, the new entry lands once
    in.addData(Entry(3, "/events/view", 3.0))
    writeEntries(in.toDF(), out, ckpt, Trigger.AvailableNow()).awaitTermination(60000)
    val again = spark.read.parquet(out)
    assert(again.count() == 3)
    assert(again.select("t_us").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }
}

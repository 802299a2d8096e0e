package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.FossilEngine
import graft.fql.Compiler
import graft.operators.{AsOfJoin, Quantiles, RangeJoin, Sample}

/** The operator battery behind [[SparkEntry.queries]].
  *
  * Conventions shared with the DuckDB oracle SQL in [[SparkEntry.oracleSql]]:
  *   - timestamps surface as `t_us` BIGINT (epoch micros) — both engines
  *     truncate the parquet nanos identically;
  *   - double aggregates go through exact integer-cents arithmetic
  *     (`round(x*100)::bigint`) so sums are order-independent;
  *   - every result has a deterministic ORDER BY;
  *   - aliases match the oracle column names exactly (the driver's compare
  *     sorts columns by name).
  */
object Queries {

  /** Fixed query-evaluation clock (2025-01-01T00:00:00Z) so `since`'s
    * implicit "now" upper bound is deterministic for the oracle. */
  val FixedNowNs: Long = 1735689600L * 1000000000L
  val fixedClock: Compiler.Clock = () => FixedNowNs

  private def engine(spark: SparkSession, dir: String): FossilEngine =
    FossilEngine.over(Tables.eventEntries(spark, dir), Tables.eventsCatalog, fixedClock)

  private def engineLong(spark: SparkSession, dir: String): FossilEngine =
    FossilEngine.over(Tables.eventEntriesLong(spark, dir), Tables.eventsCatalogLong, fixedClock)

  private def engineDocs(spark: SparkSession, dir: String): FossilEngine = {
    val c = new graft.engine.Catalog
    c.createDdl("/docs", "string")
    val entries = Tables.documents(spark, dir).select(
      timestamp_micros(col("doc_id")).as("time"),
      concat(lit("/docs/"), col("source")).as("topic"),
      col("text").as("value"))
    FossilEngine.over(entries, c, fixedClock)
  }

  /** Same topics, but the datum is the document's `lang` tag — a
    * low-cardinality string column, so string ==/!= filters select
    * non-empty, non-total subsets at every SF (the `text` variant only
    * ever matched 0 rows, which made the equality oracle vacuous). */
  private def engineDocsLang(spark: SparkSession, dir: String): FossilEngine = {
    val c = new graft.engine.Catalog
    c.createDdl("/docs", "string")
    val entries = Tables.documents(spark, dir).select(
      timestamp_micros(col("doc_id")).as("time"),
      concat(lit("/docs/"), col("source")).as("topic"),
      col("lang").as("value"))
    FossilEngine.over(entries, c, fixedClock)
  }

  /** Entry frame → oracle-comparable projection. */
  private def entryOut(df: DataFrame): DataFrame =
    df.select(unix_micros(col("time")).as("t_us"), col("topic"), col("value"))
      .orderBy("t_us", "topic")

  private def valueOut(df: DataFrame): DataFrame = df.select("value")

  /** Exact integer-cents: round(x*100) as BIGINT. */
  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** Harness-time ledger: nanoseconds spent on bench-HARNESS work around
    * the streaming replay rows — fixture JSON writes, fixture file copies,
    * sentinel appends — keyed by battery row. This is test-rig cost, not
    * engine execution: the round-7 battery spent ~29% of its wall inside
    * these writes, drowning the regression signal the bench exists to
    * provide. [[timeRows]] subtracts each row's harness delta from its
    * timed wall; [[graft.Bench]] reports the total separately
    * (`harness_s`). */
  private[graft] val harnessNs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]
  private[graft] def harness[A](key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally harnessNs
      .computeIfAbsent(key, _ => new java.util.concurrent.atomic.LongAdder)
      .add(System.nanoTime() - t0)
  }

  /** One timed run of a battery row: `seconds` is engine time, `rows` the
    * row count, and `startMs`..`endMs` the run's wall-clock window, so
    * Spark listener events or stack samples can be matched to it. */
  private[graft] final case class RowRun(seconds: Double, rows: Long, startMs: Long, endMs: Long)

  /** The one rule for timing battery rows, used by [[graft.Bench]],
    * `tools.ScaleSweep` and `tools.Profile`. Every row first runs once,
    * untimed, on `warmDir` (JIT, codegen caches, footer reads; a failed
    * warm-up is ignored). Then `passes` pass-major rounds time every row on
    * each of `dirs` in turn: one noisy stretch of the window then inflates
    * one sample of many rows instead of every sample of one row. A run's
    * engine time is the wall of its `count()` minus the row's [[harnessNs]]
    * delta. `clearCache()` follows each run, outside its window: operator
    * caches are already action-scoped (`OperatorCache`), so it is only a
    * safety net against a cache that outlives its action.
    * `beforePass(i)` runs before pass `i`. Returns one map per pass from
    * (row, dir) to the run or its failure. */
  private[graft] def timeRows(spark: SparkSession, names: Seq[String], warmDir: String,
      dirs: Seq[String], passes: Int)(
      beforePass: Int => Unit = _ => ()): IndexedSeq[Map[(String, String), Try[RowRun]]] = {
    val battery = SparkEntry.queries
    // any Throwable: a row that overflows the stack fails alone
    def count(name: String, dir: String): Try[Long] =
      try Success(battery(name)(spark, dir).count())
      catch { case e: Throwable => Failure(e) }
    def harnessOf(name: String): Long =
      Option(harnessNs.get(name)).map(_.sum()).getOrElse(0L)
    names.foreach(count(_, warmDir))
    (0 until passes).map { pass =>
      beforePass(pass)
      (for (n <- names; dir <- dirs) yield {
        val h0 = harnessOf(n)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val rows = count(n, dir)
        val wall = (System.nanoTime() - t0) / 1e9
        val run = rows.map(RowRun(wall - (harnessOf(n) - h0) / 1e9, _, startMs,
          System.currentTimeMillis()))
        spark.catalog.clearCache()
        (n, dir) -> run
      }).toMap
    }
  }

  /** Phase ledger: nanoseconds per `row/phase` spent INSIDE a row's
    * engine wall. Pure attribution — NEVER subtracted from the row (that
    * is [[harnessNs]]'s job, and only for test-rig cost): when an
    * I/O-mixed row like store_roundtrip moves round-over-round, the
    * sidecar's phase map says WHICH half moved (round-8 VERDICT: the row
    * sat unattributed at 4.6× because its ingest-write and query-read
    * shared one wall). */
  private[graft] val phaseNs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]
  private[graft] def phase[A](key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phaseNs
      .computeIfAbsent(key, _ => new java.util.concurrent.atomic.LongAdder)
      .add(System.nanoTime() - t0)
  }

  /** Scratch root for replay fixtures, streaming checkpoints/sinks, the
    * store-lifecycle rows and every build-once store fixture: tmpfs
    * (`/dev/shm`) when writable, else the JVM temp dir;
    * `GRAFT_SCRATCH_DIR` overrides either way. The streaming restart rows,
    * the store round-trip and the stored-reference rows exist to prove
    * ENGINE machinery (exactly-once recovery, catalog restore, pruning,
    * store reads) — on the shared sandbox their walls were dominated by
    * disk weather instead (round-8 VERDICT: seven I/O-heavy rows at
    * 2.6–4.6× with unchanged plans). A 100 TB deployment would give these
    * paths real provisioned storage; tmpfs is the local stand-in that
    * measures the machinery, while Bench's `io_calib_s` probe tracks the
    * disk weather separately. */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    val pick = sys.env.get("GRAFT_SCRATCH_DIR")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) Some(shm)
        else None
      }
      .getOrElse(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    val dir = pick.resolve("graft_scratch")
    java.nio.file.Files.createDirectories(dir)
    dir
  }

  /** The scratch registry: every dir [[scratchDir]] has handed out in this
    * JVM. Its one shutdown hook deletes them all: the battery's frames read
    * their files lazily, so nothing can be deleted before the process
    * ends. Only these dirs go, never the whole root, which other JVMs
    * share. The delete is plain `java.io`, since Hadoop closes its file
    * systems in a shutdown hook of its own. */
  private[graft] lazy val scratchDirs: java.util.Set[java.nio.file.Path] = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.forEach(deleteTree)))
    dirs
  }

  /** A fresh dir under [[scratchRoot]], deleted at JVM exit. */
  private[graft] def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(scratchRoot, prefix)
    scratchDirs.add(dir)
    dir.toString
  }

  /** Recursive delete of `root` and everything under it. */
  private[graft] def deleteTree(root: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(root.toFile)
  }

  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Any]

  /** The battery's build-once fixtures: one value per (`key`, sf dir `d`)
    * per JVM. A fixture — an import source, a persisted operator store, a
    * replay input, a frozen fit — is a pure function of the input tables,
    * so timed passes 2..N reuse what pass 1 built instead of re-building
    * it inside the timed window. On a miss, `build` runs inside
    * [[harness]]`(chargeKey)` (the fixture key by default): rows sharing
    * one fixture pass the same `key` with their own charge key, so the
    * build runs once per JVM and is subtracted from whichever row's timed
    * wall triggered it — first caller pays. A build that throws leaves no
    * entry, so the next call builds again.
    *
    * No build may ask for another fixture: all fixtures share one
    * `ConcurrentHashMap`, whose `computeIfAbsent` cannot nest. */
  private[graft] def fixture[A](key: String, d: String, chargeKey: String = null)(
      build: => A): A =
    fixtures.computeIfAbsent((key, d),
      _ => harness(Option(chargeKey).getOrElse(key))(build)).asInstanceOf[A]

  /** A [[fixture]] that is a directory: a fresh [[scratchDir]] named after
    * `key` that `write` fills once; returns its path. */
  private[graft] def fixtureDir(key: String, d: String, chargeKey: String = null)(
      write: String => Unit): String =
    fixture(key, d, chargeKey) {
      val dir = scratchDir(s"graft_${key}_fix")
      write(dir)
      dir
    }

  /** A JSON-lines replay fixture: `build` written as four files. */
  private def jsonFixture(
      key: String, dir: String, build: => DataFrame,
      chargeKey: String = null): String =
    fixtureDir(key, dir, chargeKey)(build.coalesce(4).write.mode("overwrite").json(_))

  /** Replay a batch `(t_us, topic, value)` frame through the file-source
    * stream, run `plan` over the streaming frame, and drain it with
    * [[drainToMemory]]. `batchEntries` is by-name: it is only evaluated on
    * a fixture-cache miss (the fixture is immutable, so only the
    * checkpoint needs to be fresh per invocation). */
  private def replayThroughStream(
      s: SparkSession, dir: String, batchEntries: => DataFrame,
      sinkName: String, mode: String, fixtureKey: String = null)(
      plan: DataFrame => DataFrame): DataFrame = {
    val rowKey = sinkName.stripPrefix("graft_sink_")
    val in = jsonFixture(
      Option(fixtureKey).getOrElse(rowKey), dir, batchEntries, rowKey)
    drainToMemory(plan(graft.streaming.StreamingIngest.fileSource(s, in)),
      sinkName, mode)
  }

  /** Drain the streaming frame `out` into the memory sink `sinkName` with
    * one AvailableNow pass over a fresh checkpoint; returns the sink
    * table. The sink name is FIXED per battery key: the memory sink
    * registers its results with createOrReplaceTempView, so repeated
    * invocations (bench passes, verify re-runs) REPLACE the previous
    * result set instead of accumulating one retained table per UUID in
    * the driver. */
  private[graft] def drainToMemory(
      out: DataFrame, sinkName: String, mode: String): DataFrame = {
    val ck = scratchDir(s"graft_${sinkName}_ck")
    out.writeStream.format("memory").queryName(sinkName)
      .option("checkpointLocation", ck)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    out.sparkSession.table(sinkName)
  }

  // ======================== FQL parity set ================================

  def fqlQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fql_scan_all" -> ((s, d) => entryOut(engine(s, d).query("all in /events"))),
    "fql_topic_prefix" -> ((s, d) => entryOut(engine(s, d).query("all in /events/purchase"))),
    "fql_between" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events between ~(2024/01/10), ~(2024/01/20)"))),
    "fql_since" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events since ~(2024/01/15)"))),
    "fql_before" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events before ~(2024/01/15) - @day * 2"))),
    "fql_filter" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | filter v -> v > 100"))),
    "fql_map_arith" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | map F -> 5/9 * (F-32)"))),
    "fql_map_tuple" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | map x -> 1, x | map a, b -> a + b"))),
    "fql_builtin_max" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | map x -> max(x, 100 - x)"))),
    "fql_builtin_len" -> ((s, d) => entryOut(engineDocs(s, d).query(
      "all in /docs | map t -> len(t)"))),
    "fql_pow" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | map x -> pow(x, 2)"))),
    "fql_composite" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | map x -> \"raw\": x, \"doubled\": x * 2 | map c -> c[\"doubled\"]"))),
    "fql_reduce_count" -> ((s, d) => valueOut(engine(s, d).query(
      "all in /events | map e -> 1 | reduce a, b -> a + b"))),
    "fql_reduce_min" -> ((s, d) => valueOut(engine(s, d).query(
      "all in /events | reduce a, b -> min(a, b)"))),
    "fql_reduce_max" -> ((s, d) => valueOut(engine(s, d).query(
      "all in /events | reduce a, b -> max(a, b)"))),
    "fql_avg" -> ((s, d) => valueOut(engineLong(s, d).query(
      "all in /events | map x -> 1, x | reduce a, b -> a[0] + b[0], a[1] + b[1] | map c, s -> s / c"))),
    "fql_neq" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | filter v -> v != 100"))),
    // string equality is the reference type-checker's one tested regression
    // (pkg/query/analysis/types_test.go:12-34); "en" matches a non-empty,
    // non-total subset so both branches of the predicate are exercised
    "fql_string_eq" -> ((s, d) => entryOut(engineDocsLang(s, d).query(
      "all in /docs | filter t -> t == \"en\""))),
    "fql_string_neq" -> ((s, d) => entryOut(engineDocsLang(s, d).query(
      "all in /docs | filter t -> t != \"en\""))),
    "fql_builtin_abs" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | map x -> abs(x - 100)"))),
    "fql_builtin_floor" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | map x -> floor(x / 7)"))),
    "fql_builtin_sqrt" -> ((s, d) => entryOut(engine(s, d).query(
      "all in /events | map x -> sqrt(x)"))),
    "fql_sample_greedy" -> ((s, d) => entryOut(engine(s, d).query(
      "sample(@hour) in /events"))),
    // quantifier ∘ pipeline composition: the greedy sample feeds a
    // filter/map chain (grammar: quantifier [topic] [time] [| stages]) —
    // pins that stages run over the SAMPLED stream, not the raw one
    "fql_sample_pipeline" -> ((s, d) => entryOut(engine(s, d).query(
      "sample(@hour) in /events | filter v -> v > 100 | map F -> F * 2"))),
    "fql_sample_bucketed" -> ((s, d) =>
      entryOut(Sample.bucketed(Tables.eventEntries(s, d), 3600L * 1000000000L))),
    // fossil-exact semantics: ONE greedy carry over the merged time-ordered
    // stream of all selected topics (parallelism 1 by definition)
    "fql_sample_global" -> ((s, d) =>
      entryOut(Sample.greedyGlobal(
        Tables.eventEntries(s, d).drop("__t_ns"), 3600L * 1000000000L))),
    // continuous FQL: the SAME parse→compile path as batch, over a file-
    // source replay of the events table — a 2-stage filter/map pipeline
    // runs inside the streaming plan (stateless narrow ops, append mode)
    // and must equal the batch FQL result on the identical data. This is
    // the oracle row for StreamingFql, complementing the stateful-sample
    // and windowed-agg streaming rows.
    "stream_fql" -> ((s, d) => entryOut(replayThroughStream(
      s, d, Tables.eventEntries(s, d).drop("__t_ns")
        .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value")),
      // same projection as stream_fql_sample → one shared fixture per JVM
      "graft_sink_stream_fql", "append", fixtureKey = "stream_events") { stream =>
        graft.streaming.StreamingFql.query(
          "all in /events | filter v -> v > 100 | map F -> 5/9 * (F - 32)",
          stream.select(timestamp_micros(col("t_us")).as("time"),
            col("topic"), col("value")),
          fixedClock)
      })),
    // continuous FQL with the STATEFUL operator: sample(@hour) compiled
    // onto the stream (flatMapGroupsWithState greedy carry). The whole
    // replay arrives in one micro-batch (64-file trigger ≥ the 4 input
    // files), where the operator's in-batch time sort makes the carry
    // exact — so the result must equal the batch greedy sample, same
    // recursive-CTE oracle as fql_sample_greedy
    "stream_fql_sample" -> ((s, d) => entryOut(replayThroughStream(
      s, d, Tables.eventEntries(s, d).drop("__t_ns")
        .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value")),
      "graft_sink_stream_fql_sample", "append", fixtureKey = "stream_events") { stream =>
        graft.streaming.StreamingFql.query("sample(@hour) in /events",
          stream.select(timestamp_micros(col("t_us")).as("time"),
            col("topic"), col("value")),
          fixedClock)
      })),
    // continuous FQL with an AGG-SHAPED reduce: the full fql_avg pipeline
    // (map → tuple-slot reduce → map) compiled onto a stream. The reduce
    // becomes a streaming GLOBAL aggregation — one state row, complete
    // output mode — and the trailing map projects over the aggregate, so
    // the replayed result must equal the batch average exactly (integer
    // sums are order-independent; the division happens once at the end).
    "stream_fql_reduce" -> ((s, d) => replayThroughStream(
      s, d, Tables.eventEntriesLong(s, d).drop("__t_ns")
        .select(unix_micros(col("time")).as("t_us"), col("topic"),
          col("value")),
      "graft_sink_stream_fql_reduce", "complete") { stream =>
        graft.streaming.StreamingFql.query(
          "all in /events | map x -> 1, x | reduce a, b -> a[0] + b[0], a[1] + b[1] | map c, s -> s / c",
          stream.select(timestamp_micros(col("t_us")).as("time"),
            col("topic"), col("value")),
          fixedClock)
      }.select("value")),
    // the ENGINE'S OWN storage path end-to-end (reference lifecycle
    // `pkg/database/db.go:554-649`): events ingested through
    // ParquetStore.append — schema-group/topic-partition layout,
    // catalog.json persistence — then queried back through a FRESH client
    // (catalog restore from disk) with a topic prefix (partition pruning)
    // and a time predicate (row-group pruning on the time-sorted files)
    "store_roundtrip" -> ((s, d) => {
      val root = scratchDir("graft_store_rt")
      // phase-split: the ingest writes and the pruned read-back share this
      // row's wall by design (full lifecycle); the phase ledger records
      // the write half so a round-over-round move is attributable
      phase("store_roundtrip/ingest_write") {
        val c = new graft.api.LocalClient(s, root, fixedClock)
        c.createTopic("/events", "float64")
        c.appendFrame(Tables.eventEntries(s, d).drop("__t_ns"), "float64")
      }
      val reopened = new graft.api.LocalClient(s, root, fixedClock)
      entryOut(reopened.query("all in /events/purchase since ~(2024/01/15)"))
    }),
    // READING A REAL FOSSIL DATABASE from disk — the migration path OFF a
    // native deployment (gob/zlib v2 layout `pkg/database/db.go:139-241`
    // + WAL replay `pkg/database/log.go:32-97`). The fixture is a
    // byte-faithful fossil v2 directory built once per (JVM, sf) from the
    // events table: 10k-datum gob segment files, zlib/JSON topic+schema
    // tables, and a WAL tail holding the last 50 events with two corrupt
    // lines planted (skip-and-salvage is part of the read contract). The
    // query then imports it: DISTRIBUTED gob decode over segment files,
    // wire-codec value decode, (t_us, topic, value) out. Oracle = the
    // events parquet itself — a correct import is indistinguishable from
    // having read the source table directly.
    "fossil_import" -> ((s, d) => {
      val dir = fossilFixture(s, d)
      graft.sources.FossilDatabase.rawEntries(s, dir)
        .select(
          expr("t_ns div 1000").as("t_us"), // integral: ns ≈ 1.7e18 > 2^53
          col("topic"),
          graft.functions.FossilDecode("float64", col("data")).as("value"))
        .orderBy("t_us", "topic")
    }),
    // WARC ingestion — the raw-crawl format (Common Crawl ships WARC;
    // ISO 28500 record layout): the documents table round-trips through
    // four crawl-style files (plain AND per-record-gzipped members, both
    // sniffed) as HTTP response records; executors parse their own files
    // (the driver never touches record bytes), the HTTP header block
    // splits off at the first blank line, and the recovered
    // (id, date, text) must match the source table exactly
    "warc_import" -> ((s, d) => {
      import s.implicits._
      val dir = warcFixture(s, d)
      graft.sources.Warc.read(s, dir)
        .filter(col("warc_type") === "response")
        .as[(String, Int, String, String, Long, Array[Byte])]
        .map { case (_, _, _, url, dateUs, payload) =>
          val (_, body) = graft.sources.Warc.httpBody(payload)
          (url.substring(url.lastIndexOf('/') + 1).toLong, dateUs,
            new String(body, java.nio.charset.StandardCharsets.UTF_8))
        }
        .toDF("id", "date_us", "text")
        .orderBy("id")
    }),
    // THE DSv2 FRONT DOOR — `spark.read.format("fossil")`
    // ([[graft.connector.FossilDataSource]]): the idiomatic surface plain
    // Spark users and external tools compose through. Three twins of
    // library-path rows read the SAME store fixture through the
    // connector: scan-all (result identity with the entries path —
    // identical oracle to fql_scan_all), a time range (the bounds become
    // parquet row-group predicates inside the scan; Plans gates the
    // PushedFilters fragment in the BatchScan node), and a topic equality
    // (partition-DIRECTORY pruning at planning time; Plans gates
    // topics=1). Oracles are the events table itself.
    "dsv2_scan_all" -> ((s, d) => entryOut(dsv2Read(s, d))),
    "dsv2_between" -> ((s, d) => entryOut(dsv2Read(s, d).filter(
      col("time") >= lit(java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-10T00:00:00Z"))) &&
        col("time") <= lit(java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-20T00:00:00Z")))))),
    "dsv2_topic" -> ((s, d) => entryOut(
      dsv2Read(s, d).filter(col("topic") === "/events/purchase"))),
    // the NATIVE half of the front door: format("fossil") pointed at the
    // byte-faithful fossil v2 directory (gob segments + zlib catalog +
    // corrupt-line WAL tail — the same fixture fossil_import decodes):
    // layout auto-detected, segment files decoded on executors, values
    // typed through the shared wire codec, WAL salvage included. Oracle =
    // the events table itself, like fossil_import — a correct native read
    // is indistinguishable from having read the source table directly.
    "dsv2_native" -> ((s, d) =>
      s.read.format("fossil").option("prefix", "/events")
        .load(fossilFixture(s, d))
        .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value"))
        .orderBy("t_us", "topic")),
    // the SQL catalog path ([[graft.connector.FossilCatalog]]): topics as
    // tables under `fossil.<db>.<path segments>`, plain Spark SQL on top —
    // the grouped aggregate runs THROUGH the catalog's table resolution,
    // proving the third leg of the connector surface (DataFrame read,
    // native read, SQL catalog). Exact-cents sum keeps the double column
    // hash-stable under parallel aggregation.
    "dsv2_sql" -> ((s, d) => {
      val root = dsv2Root(s, d)
      s.conf.set("spark.sql.catalog.fossil_bench",
        "graft.connector.FossilCatalog")
      s.conf.set("spark.sql.catalog.fossil_bench.db.main", root)
      s.sql("""SELECT topic, count(*) AS n,
              |  sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
              |FROM fossil_bench.main.events
              |GROUP BY topic ORDER BY topic""".stripMargin)
    }),
    // LIVE MIGRATION + LIVE ANALYTICS as one path (r16 verdict item 4): a
    // wire server over a source store is followed cycle by cycle into a
    // landing store WHILE the source keeps appending (time-ordered
    // tranches — follow's high-water contract), and after each cycle one
    // AvailableNow run of a checkpointed streaming FQL map over
    // [[graft.streaming.StreamingIngest.storeStream]] drains exactly the
    // newly landed files into the sink (the restart-exactly-once
    // pattern). The result is every migrated entry mapped once — the
    // oracle is the same arithmetic over the source events slice, so a
    // double-land or a dropped boundary microsecond is a hash mismatch.
    // A 10% time-keyed slice keeps the driver-paged wire leg (the
    // migration tool's documented cost model) bench-sized.
    "stream_wire_follow" -> ((s, d) =>
      liveMigration(s, d, "stream_wire_follow", idleDrain = false)(root =>
        graft.streaming.StreamingIngest.storeStream(s, root, "float64"))),

    // [stream_dsv2] The SAME live-migration composition as
    // stream_wire_follow, with ONE difference: the analytics drain reads
    // the landing store through `spark.readStream.format("fossil")` — the
    // DSv2 micro-batch connector — instead of the raw path-glob file
    // source. Offsets are checkpointed file sets
    // ([[graft.connector.FossilMicroBatchStream]]); two follow cycles +
    // three drains (the last idle) prove exactly-once through the
    // connector, and the shared oracle with stream_wire_follow IS the
    // equivalence proof the r17 verdict asked for.
    "stream_dsv2" -> ((s, d) =>
      liveMigration(s, d, "stream_dsv2", idleDrain = true)(root =>
        s.readStream.format("fossil").load(root))),
  )

  /** The live-migration body shared by stream_wire_follow and stream_dsv2:
    * a source store seeded with the first tranche of a 10% time-keyed
    * events slice, served over the wire and followed into a landing store
    * in two cycles (the second tranche appended in between, the second
    * cycle closing the boundary), each cycle followed by one checkpointed
    * AvailableNow drain of `source(landingRoot)` through a streaming FQL
    * map into a parquet sink. `key` names the row's `phase`/`harness`
    * ledger entries; `idleDrain` adds a third drain after the last cycle,
    * which must re-land nothing. */
  private def liveMigration(
      s: SparkSession, d: String, key: String, idleDrain: Boolean)(
      source: String => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val sink = scratchDir(s"graft_${key}_sink")
    val ckpt = scratchDir(s"graft_${key}_ckpt")
    val srcRoot = scratchDir(s"graft_${key}_src")
    val dstRoot = scratchDir(s"graft_${key}_dst")
    val slice = Tables.eventEntries(s, d).drop("__t_ns")
      .filter(unix_micros(col("time")) % 10 === 0)
    // fixture prep (harness): tranche boundaries + the source's first
    // tranche — test-rig work standing in for the OLD deployment
    val b1 = harness(key) {
      val mm = slice.agg(min(unix_micros(col("time"))),
        max(unix_micros(col("time")))).first()
      mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    }
    val src = harness(key) {
      val c = new graft.api.LocalClient(s, srcRoot, fixedClock)
      c.createTopic("/events", "float64")
      c.appendFrame(slice.filter(unix_micros(col("time")) <= b1), "float64")
      c
    }
    // each drain is one checkpointed streaming restart — phase-
    // attributed like stream_session's, so the bench's io-normalized
    // headline can discount this row's disk-weather share too
    def drain(): Unit = phase(s"$key/drain") {
      val out = graft.streaming.StreamingFql.query(
        "all in /events | map F -> 5/9 * (F-32)", source(dstRoot), fixedClock)
      out.select(unix_micros(col("time")).as("t_us"), col("topic"),
          col("value"))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", sink)
        .outputMode("append").start().awaitTermination()
    }
    val server = new graft.api.WireServer(s, Map("src" -> srcRoot), "src",
      fixedClock)
    try {
      val client = new graft.api.RemoteClient("127.0.0.1", server.port,
        db = "src")
      try {
        phase(s"$key/follow") {
          graft.sources.WireImport.followOnce(s, client, dstRoot)
        }
        drain()
        harness(key) {
          src.appendFrame(slice.filter(unix_micros(col("time")) > b1),
            "float64")
        }
        phase(s"$key/follow") {
          graft.sources.WireImport.followOnce(s, client, dstRoot,
            closeBoundary = true)
        }
        drain()
        if (idleDrain) drain() // the checkpoint re-lands nothing
      } finally client.close()
    } finally server.close()
    s.read.parquet(sink).select("t_us", "topic", "value")
      .orderBy("t_us", "topic")
  }

  /** One connector-read store fixture per (JVM, sf dir): the events table
    * ingested once through the library path, then every `dsv2_*` row reads
    * it back through `spark.read.format("fossil")` — fixture cost is
    * harness-charged like every import fixture. */
  private def dsv2Root(s: SparkSession, d: String): String =
    fixtureDir("dsv2", d, "dsv2_scan_all") { r =>
      val c = new graft.api.LocalClient(s, r, fixedClock)
      c.createTopic("/events", "float64")
      c.appendFrame(Tables.eventEntries(s, d).drop("__t_ns"), "float64")
    }
  private def dsv2Read(s: SparkSession, d: String): DataFrame =
    s.read.format("fossil").load(dsv2Root(s, d))

  /** One WARC fixture dir per (JVM, sf dir): the documents table written
    * as crawl-style response records across four `.warc`/`.warc.gz`
    * files (alternating plain and per-record-gzipped members — both
    * layouts the reader must sniff), charged to the harness ledger like
    * every import fixture. */
  private def warcFixture(s: SparkSession, d: String): String =
    fixtureDir("warc", d, "warc_import") { out =>
      import graft.sources.Warc
      val baseUs = 1717200000000000L // 2024-06-01T00:00:00Z
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .orderBy("doc_id").collect()
      (0 until 4).foreach { f =>
        val recs = docs.iterator.filter(_.getLong(0) % 4 == f).map { r =>
          val id = r.getLong(0)
          val body = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8) ++ body
          Warc.Record(Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://corpus.example/doc/$id",
            "WARC-Date" -> java.time.format.DateTimeFormatter.ISO_INSTANT.format(
              java.time.Instant.ofEpochSecond(baseUs / 1000000L + id)),
            "WARC-Record-ID" -> s"<urn:graft:$id>"), http)
        }.toSeq
        val gz = f % 2 == 0
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out, s"crawl-$f.warc" + (if (gz) ".gz" else "")),
          Warc.writeRecords(recs, gzip = gz))
      }
    }

  /** One fossil-format database per (JVM, sf dir), built from the events
    * table through [[graft.sources.FossilWriter]] and charged to the
    * harness ledger — constructing the fossil directory is test-rig cost
    * (a real migration starts from an EXISTING fossil deployment); the
    * timed work is reading it back. */
  private def fossilFixture(s: SparkSession, d: String): String =
    fixtureDir("fossil_db", d, "fossil_import") { out =>
      import graft.sources.{FossilDatabase => FD, FossilWriter => FW}
      val rows = Tables.events(s, d)
        .select(col("__t_ns"), col("event_type"), col("value"))
        .orderBy("__t_ns", "event_type").collect()
      val types = rows.map(_.getString(1)).distinct.sorted
      val topics = "/" +: types.map("/events/" + _).toVector
      val schemas = "string" +: types.map(_ => "float64").toVector
      val topicId = topics.zipWithIndex.toMap
      val datums = rows.map { r =>
        (r.getLong(0), topicId("/events/" + r.getString(1)),
          graft.engine.Codec.encode(graft.engine.FossilSchema.SFloat64,
            r.getDouble(2)))
      }
      val walCount = math.min(50, datums.length / 2)
      val (segRows, walRows) = datums.splitAt(datums.length - walCount)
      val segments = segRows.grouped(10000).map { g =>
        val head = g.head._1
        FD.Segment(head, g.iterator.map { case (t, tid, bytes) =>
          FD.Datum(t - head, tid, bytes)
        }.toVector)
      }.toVector
      FW.writeV2(out, topics, schemas, segments,
        sTimeNs = segRows.last._1)
      val lastHead = segments.last.headTimeNs
      val good = walRows.map { case (t, tid, bytes) =>
        FW.walAddEvent(FD.Datum(t - lastHead, tid, bytes))
      }
      // two corrupt lines planted mid-tail: the import must salvage
      // around them exactly like the reference's scanner loop
      val (a, b) = good.splitAt(good.length / 2)
      FW.appendWal(out,
        (a :+ "corrupt line with no separator") ++
          (b :+ "1;!!!not-base64!!!"))
    }

  def fqlOracles: Map[String, String] = {
    val entryCols = "epoch_us(ts) AS t_us, '/events/' || event_type AS topic"
    def ev(valueExpr: String, where: String = "TRUE") =
      s"SELECT $entryCols, $valueExpr AS value FROM events WHERE $where ORDER BY t_us, topic"
    Map(
      "fql_scan_all" -> ev("value"),
      "fql_topic_prefix" -> (
        s"SELECT $entryCols, value FROM events WHERE event_type = 'purchase' ORDER BY t_us, topic"),
      "fql_between" -> ev("value",
        "ts >= TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-20'"),
      "fql_since" -> ev("value",
        "ts >= TIMESTAMP '2024-01-15' AND ts <= TIMESTAMP '2025-01-01'"),
      "fql_before" -> ev("value", "ts <= TIMESTAMP '2024-01-13'"),
      // DSv2 connector twins: same store data, same oracles as the
      // library-path rows — the comparison IS the identity proof
      "dsv2_scan_all" -> ev("value"),
      "dsv2_between" -> ev("value",
        "ts >= TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-20'"),
      "dsv2_topic" -> (
        s"SELECT $entryCols, value FROM events WHERE event_type = 'purchase' ORDER BY t_us, topic"),
      // live follow + streaming FQL map over the landing store: exactly
      // the sliced source entries, mapped once each
      "stream_wire_follow" -> ev("5.0/9.0 * (value - 32)",
        "epoch_us(ts) % 10 = 0"),
      // identical composition drained through readStream.format("fossil")
      // — sharing stream_wire_follow's oracle IS the equivalence proof
      "stream_dsv2" -> ev("5.0/9.0 * (value - 32)",
        "epoch_us(ts) % 10 = 0"),
      // native-dir connector read ≡ the source events, like fossil_import
      "dsv2_native" -> ev("value"),
      // SQL-catalog grouped aggregate over the store's events topics
      "dsv2_sql" -> ("""SELECT '/events/' || event_type AS topic,
        | count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      "fql_filter" -> ev("value", "value > 100"),
      "fql_map_arith" -> ev("5.0/9.0 * (value - 32)"),
      "fql_map_tuple" -> ev("1.0 + value"),
      "fql_builtin_max" -> ev("greatest(value, 100 - value)"),
      "fql_builtin_len" -> ("SELECT doc_id AS t_us, '/docs/' || source AS topic, " +
        "CAST(length(text) AS BIGINT) AS value FROM documents ORDER BY t_us, topic"),
      "fql_pow" -> ev("pow(value, 2)"),
      "fql_composite" -> ev("value * 2"),
      "fql_neq" -> ev("value", "value != 100"),
      "fql_string_eq" -> ("SELECT doc_id AS t_us, '/docs/' || source AS topic, " +
        "lang AS value FROM documents WHERE lang = 'en' ORDER BY t_us, topic"),
      "fql_string_neq" -> ("SELECT doc_id AS t_us, '/docs/' || source AS topic, " +
        "lang AS value FROM documents WHERE lang != 'en' ORDER BY t_us, topic"),
      "fql_builtin_abs" -> ev("abs(value - 100)"),
      "fql_builtin_floor" -> ev("floor(value / 7)"),
      // sqrt is IEEE correctly-rounded in both engines (unlike exp/ln/pow ULPs)
      "fql_builtin_sqrt" -> ev("sqrt(value)"),
      "fql_reduce_count" -> "SELECT CAST(COUNT(*) AS BIGINT) AS value FROM events",
      "fql_reduce_min" -> "SELECT MIN(value) AS value FROM events",
      "fql_reduce_max" -> "SELECT MAX(value) AS value FROM events",
      "fql_avg" -> "SELECT CAST(SUM(user_id) AS DOUBLE) / COUNT(*) AS value FROM events",
      // agg-shaped reduce on a stream ≡ the batch average (integer sums
      // are exact in doubles at any accumulation order)
      "stream_fql_reduce" ->
        "SELECT CAST(SUM(user_id) AS DOUBLE) / COUNT(*) AS value FROM events",
      // exact greedy downsample: per-topic sequential carry, expressible as a
      // recursive CTE (next kept = min ts >= last kept + interval)
      "fql_sample_greedy" -> """
        |WITH RECURSIVE kept(topic, t) AS (
        |  SELECT event_type, MIN(ts) FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT k.topic,
        |    (SELECT MIN(e.ts) FROM events e WHERE e.event_type = k.topic
        |       AND e.ts >= k.t + INTERVAL 1 HOUR)
        |  FROM kept k
        |  WHERE (SELECT MIN(e.ts) FROM events e WHERE e.event_type = k.topic
        |       AND e.ts >= k.t + INTERVAL 1 HOUR) IS NOT NULL
        |)
        |SELECT epoch_us(e.ts) AS t_us, '/events/' || e.event_type AS topic, e.value
        |FROM events e JOIN kept k ON e.event_type = k.topic AND e.ts = k.t
        |ORDER BY t_us, topic""".stripMargin.trim,
      // same kept-set CTE as fql_sample_greedy; the pipeline applies to
      // the kept rows (filter AFTER sampling, then the map projection)
      "fql_sample_pipeline" -> """
        |WITH RECURSIVE kept(topic, t) AS (
        |  SELECT event_type, MIN(ts) FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT k.topic,
        |    (SELECT MIN(e.ts) FROM events e WHERE e.event_type = k.topic
        |       AND e.ts >= k.t + INTERVAL 1 HOUR)
        |  FROM kept k
        |  WHERE (SELECT MIN(e.ts) FROM events e WHERE e.event_type = k.topic
        |       AND e.ts >= k.t + INTERVAL 1 HOUR) IS NOT NULL
        |)
        |SELECT epoch_us(e.ts) AS t_us, '/events/' || e.event_type AS topic,
        |  e.value * 2 AS value
        |FROM events e JOIN kept k ON e.event_type = k.topic AND e.ts = k.t
        |WHERE e.value > 100
        |ORDER BY t_us, topic""".stripMargin.trim,
      "fql_sample_bucketed" -> ("SELECT epoch_us(ts) AS t_us, '/events/' || event_type AS topic, value " +
        "FROM events QUALIFY row_number() OVER (PARTITION BY event_type, epoch_us(ts) // 3600000000 " +
        "ORDER BY ts, value) = 1 ORDER BY t_us, topic"),
      "fql_sample_global" -> """
        |WITH RECURSIVE kept(t) AS (
        |  SELECT MIN(ts) FROM events
        |  UNION ALL
        |  SELECT (SELECT MIN(e.ts) FROM events e WHERE e.ts >= k.t + INTERVAL 1 HOUR)
        |  FROM kept k
        |  WHERE (SELECT MIN(e.ts) FROM events e WHERE e.ts >= k.t + INTERVAL 1 HOUR) IS NOT NULL
        |)
        |SELECT epoch_us(e.ts) AS t_us, '/events/' || e.event_type AS topic, e.value
        |FROM events e JOIN kept k ON e.ts = k.t
        |ORDER BY t_us, topic""".stripMargin.trim,
      // streaming filter/map ≡ batch: same pipeline as fql_filter ∘
      // fql_map_arith, so the oracle is their composition
      "stream_fql" -> ev("5.0/9.0 * (value - 32)", "value > 100"),
      // single-batch stateful replay ≡ batch greedy sample (same CTE)
      "stream_fql_sample" -> """
        |WITH RECURSIVE kept(topic, t) AS (
        |  SELECT event_type, MIN(ts) FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT k.topic,
        |    (SELECT MIN(e.ts) FROM events e WHERE e.event_type = k.topic
        |       AND e.ts >= k.t + INTERVAL 1 HOUR)
        |  FROM kept k
        |  WHERE (SELECT MIN(e.ts) FROM events e WHERE e.event_type = k.topic
        |       AND e.ts >= k.t + INTERVAL 1 HOUR) IS NOT NULL
        |)
        |SELECT epoch_us(e.ts) AS t_us, '/events/' || e.event_type AS topic, e.value
        |FROM events e JOIN kept k ON e.event_type = k.topic AND e.ts = k.t
        |ORDER BY t_us, topic""".stripMargin.trim,
      // the store is lossless for (time µs, topic, value): the oracle is
      // the same scan+predicate straight off the source table
      "store_roundtrip" -> (
        s"SELECT $entryCols, value FROM events WHERE event_type = 'purchase' " +
          "AND ts >= TIMESTAMP '2024-01-15' AND ts <= TIMESTAMP '2025-01-01' " +
          "ORDER BY t_us, topic"),
      // the fossil on-disk round trip (events → gob segments + WAL →
      // import) is lossless for (time µs, topic, value), so the oracle is
      // the source table scan — identical to fql_scan_all's shape
      "fossil_import" -> ev("value"),
      // the WARC round trip is lossless for (doc id, date, text): the
      // oracle is the documents table with the fixture's deterministic
      // date arithmetic replayed
      "warc_import" -> ("SELECT doc_id AS id, " +
        "(1717200000 + doc_id) * 1000000 AS date_us, text " +
        "FROM documents ORDER BY id"),
    )
  }

  // ===================== relational extension set =========================

  def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // explicit salted skew join: the salt only affects task placement, so
    // the RESULT equals a plain inner join — which is exactly what the
    // oracle runs; the aggregate keeps the compared result small
    "q_join_skew" -> ((s, d) => {
      val probe = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val build = Tables.supplier(s, d)
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      graft.operators.SkewJoin.saltedInner(probe, build, "suppkey", buckets = 8)
        .groupBy("s_name").agg(sum(cents(col("l_quantity"))).as("qty_cents"))
        .orderBy("s_name")
    }),
    // streaming windowed aggregation, oracle-checked against batch SQL:
    // the events table replays through a file-source stream and a
    // Complete-mode tumbling-day aggregation — proving the streaming
    // semantics match the equivalent batch GROUP BY. Values aggregate as
    // integer cents (exact under any accumulation order); Complete mode
    // makes the memory-sink contents independent of micro-batch boundaries.
    "stream_windowed" -> ((s, d) =>
      // value rides as cents cast DOUBLE only for driver dtype parity with
      // the oracle's SUM result type; the values are integer cents < ~1e7
      // (event values are 3-digit floats), far below 2^53, so the cast is
      // exact, not a rounding trap
      replayThroughStream(
        s, d, Tables.eventEntries(s, d).drop("__t_ns")
          .select(unix_micros(col("time")).as("t_us"), col("topic"),
            cents(col("value")).cast("double").as("value")),
        "graft_sink_stream_windowed", "complete") { stream =>
          graft.streaming.StreamingIngest.windowedStats(stream, "1 day", "1 hour")
        }
        .select(
          unix_micros(col("w_start")).as("w_us"), col("topic"), col("n"),
          col("sum_value").cast("long").as("sum_cents"),
          col("first_us"), col("last_us"))
        .orderBy("w_us", "topic")),
    // TPC-H Q1-shaped pricing summary; exact cents arithmetic
    "q1_agg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy("l_returnflag", "l_linestatus").agg(
          (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_join_broadcast" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment").agg(
          count(lit(1)).as("n_orders"),
          (sum(cents(col("o_totalprice"))) / 100.0).as("revenue"))
        .orderBy("c_mktsegment")
    }),
    "q_join_large" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").agg(
          count(lit(1)).as("n_lines"),
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),
    "q_join_semi" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    }),
    "q_join_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    }),
    "q_window_rank" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_custkey", "rk")
    }),
    "q_window_running" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      // l_quantity as the final tie-break: the synthetic lineitem carries
      // duplicate (suppkey, shipdate, orderkey, linenumber) rows at sf0.1+,
      // and a ROWS frame over a non-total order sums ties in engine-chosen
      // order; with quantity in the key, tied rows are interchangeable
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.withColumn("running_qty", sum("l_quantity").over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),
    "q_topk" -> ((s, d) =>
      Tables.lineitem(s, d)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")),
    "q_set_ops" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val rich = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      building.union(rich).distinct()
        .except(urgent.distinct())
        .orderBy("c_custkey")
    }),
    "q_intersect" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.filter(col("c_acctbal") > 1000).select("c_custkey")
        .intersect(o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    }),
    "q_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    "q_distinct_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")),
    // trailing-time-window aggregate: RANGE frame over event time — the
    // moving-average building block fossil lacks; exact via cents sums.
    // qty7d_cents (and q_gap_fill's carry_cents) surface as DOUBLE only for
    // driver dtype parity with DuckDB's window-SUM result type; the values
    // are integer cents far below 2^53 (a 7-day window of ~50-qty lines is
    // <1e7 cents even at sf100), so the cast is exact, not a rounding trap.
    "q_moving_sum" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li")
      s.sql("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
          unix_micros(CAST(l_shipdate AS TIMESTAMP)) AS t_us,
          CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) OVER (
            PARTITION BY l_suppkey ORDER BY l_shipdate
            RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty7d_cents
        FROM graft_li
        ORDER BY l_suppkey, t_us, l_orderkey, l_linenumber""")
    }),
    // gap-fill: dense day spine with zero-fill counts + carry-forward sums —
    // the resample/interpolate shape of TS pipelines
    "q_gap_fill" -> ((s, d) => {
      Tables.events(s, d).drop("__t_ns").createOrReplaceTempView("graft_ev")
      s.sql("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
                 SUM(CAST(round(value*100) AS BIGINT)) AS s_cents
          FROM graft_ev WHERE event_type = 'purchase' GROUP BY 1),
        spine AS (
          SELECT explode(sequence(MIN(d), MAX(d), INTERVAL 1 DAY)) AS d FROM daily)
        SELECT CAST(spine.d AS STRING) AS day, COALESCE(daily.n, 0) AS n,
          CAST(last_value(daily.s_cents, true) OVER (
            ORDER BY spine.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS carry_cents
        FROM spine LEFT JOIN daily ON spine.d = daily.d
        ORDER BY day""")
    }),
    // pivot: long→wide reshaping (a surface fossil lacks entirely);
    // values enumerated explicitly so the plan is one pass, no
    // distinct-values pre-query — the oracle is the equivalent
    // conditional aggregation
    "q_pivot" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
        .orderBy("o_orderpriority")),
    // exact percentiles (not the sketch): interpolated percentile over
    // integer cents — interpolation points land on exact .0/.5 doubles,
    // so the result and DuckDB's quantile_cont agree bit-exactly.
    // Computed via the DISTRIBUTED two-pass exact quantile
    // ([[graft.operators.Quantiles.quantileCont]]: approx cut-points +
    // narrow count/refine) — Spark's percentile() aggregate would buffer
    // every group's values in executor memory, an OOM cliff when a group
    // is O(corpus); this plan's only value buffering is the ~1% refine
    // window (QuantilesSpec plan-asserts no Percentile aggregate).
    "q_percentile_exact" -> ((s, d) =>
      Quantiles.quantileCont(
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), cents(col("l_quantity")).as("__cents")),
        "l_returnflag", "__cents", Seq(0.25, 0.5, 0.75))
        .groupBy("l_returnflag")
        .agg(
          max(when(col("p") === 0.25, col("q"))).as("p25_cents"),
          max(when(col("p") === 0.5, col("q"))).as("p50_cents"),
          max(when(col("p") === 0.75, col("q"))).as("p75_cents"))
        .orderBy("l_returnflag")),
    // unpivot (wide→long melt, the inverse of q_pivot): per-order rows of
    // (metric, cents) via Spark's stack() table generator
    "q_unpivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("""stack(3,
            'qty', CAST(round(l_quantity*100) AS BIGINT),
            'price', CAST(round(l_extendedprice*100) AS BIGINT),
            'disc', CAST(round(l_discount*100) AS BIGINT)) AS (metric, cents)"""))
        .orderBy("l_orderkey", "l_linenumber", "metric")),
    // ntile: equal-frequency bucketing — the quantile-binning building
    // block (feature bucketization in training pipelines). Computed via
    // RANGE ASSIGNMENT against exact bucket-boundary keys
    // ([[graft.operators.Quantiles.ntileRange]]) — `ntile(4) OVER
    // (PARTITION BY l_returnflag ...)` would sort each of the 3 flag
    // groups in ONE task regardless of cluster size; this plan is
    // parallel in the corpus. The ORDER BY triple packs into one BIGINT
    // key (order-isomorphic: price cents < 2^24 at any TPC-H SF, orderkey
    // < 2^30 through sf100, linenumber 1..7 < 2^3) so boundaries are
    // single values and ties are impossible; QuantilesSpec plan-asserts
    // no group-partitioned window survives.
    "q_ntile" -> ((s, d) => {
      val keyed = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          (cents(col("l_extendedprice")) * lit(1L << 33)
            + col("l_orderkey") * 8 + col("l_linenumber")).as("__key"))
      Quantiles.ntileRange(keyed, "l_returnflag", "__key", 4)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("tile").as("quartile"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    }),
    // sliding (overlapping) windows: each event lands in len/slide
    // windows — Spark's window(col, len, slide) against an oracle that
    // explodes each event into its covering window starts
    "q_sliding_window" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
      ev.groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .select(unix_micros(col("window.start")).as("w_us"), col("n"), col("sum_cents"))
        .orderBy("w_us")
    }),
    // session windows: Spark's native session_window (the gap-based
    // grouping Structured Streaming uses) checked against a batch
    // gaps-and-islands oracle — session end = last event + gap, a new
    // session starts when the inter-event gap is >= the threshold
    "q_session_window" -> ((s, d) => {
      val clicks = Tables.events(s, d).filter(col("event_type") === "click")
      clicks.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("s_us"),
          unix_micros(col("session_window.end")).as("e_us"),
          col("n"), col("sum_cents"))
        .orderBy("user_id", "s_us")
    }),
    // streaming session windows in APPEND mode, oracle-checked: per-user
    // click sessions (30-min gap) replay through a file-source stream and
    // close on the watermark — the driver-verified twin of the
    // q_session_window batch row (the StreamingSpec append-mode test pins
    // the mechanics; this row pins the RESULT against DuckDB on real data).
    //
    // Append mode only emits a session once the watermark passes its end,
    // so the horizon is CLOSED with sentinel events on a throwaway topic:
    // each extra replay pass appends a sentinel a year further out and
    // restarts from the same checkpoint; the sentinel advances the global
    // watermark past every real session's end (emitting them all by the
    // last DATA batch even if no no-data batch runs), while the
    // sentinel's own session never closes and its topic is filtered from
    // the result. The file sink accumulates exactly-once across restarts
    // (checkpoint + sink metadata), which is the restart contract the
    // engine's streaming story rests on.
    "stream_session" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      // the clicks fixture and its max timestamp are pure functions of the
      // input table — built once per (query, dir) and charged to the
      // harness ledger; each invocation then COPIES the files into a fresh
      // input dir (this row mutates its input with sentinel appends, so
      // the cached dir itself must stay pristine). The three checkpointed
      // restarts below are the row's engine time BY DESIGN — they are the
      // exactly-once restart proof — only the fixture I/O is harness.
      def clicks = Tables.events(s, d).filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("t_us"),
          concat(lit("/u/"), col("user_id")).as("topic"),
          cents(col("value")).cast("double").as("value"))
      val base = jsonFixture("stream_session", d, clicks)
      val maxUs = fixture("stream_session_max_us", d, "stream_session")(
        clicks.agg(max("t_us")).first().getLong(0))
      val in = scratchDir("graft_stream_session_in")
      val ck = scratchDir("graft_stream_session_ck")
      val outDir = scratchDir("graft_stream_session_out")
      harness("stream_session") {
        import scala.jdk.CollectionConverters._
        import scala.util.Using
        val basePath = java.nio.file.Paths.get(base)
        Using.resource(java.nio.file.Files.list(basePath)) { files =>
          files.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".json"))
            .foreach { f =>
              java.nio.file.Files.copy(
                f, java.nio.file.Paths.get(in, f.getFileName.toString))
            }
        }
      }
      def pass(maxFilesPerTrigger: Int): Unit = {
        val out = graft.streaming.StreamingIngest.sessionStats(
          graft.streaming.StreamingIngest.fileSource(s, in, maxFilesPerTrigger),
          "30 minutes", "30 minutes")
        val q = out.writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      def sentinel(offsetUs: Long): Unit = harness("stream_session") {
        s.range(1).select(lit(maxUs + offsetUs).as("t_us"),
          lit("/sentinel/x").as("topic"), lit(0.0).as("value"))
          .coalesce(1).write.mode("append").json(in)
      }
      // each checkpointed pass is phase-attributed (r15 verdict note 3):
      // this row is the battery's disk-weather antenna (4.9–21.7 s spread
      // on identical code across one night), and the per-pass ledger in
      // the bench sidecar lets a window comparison see WHICH restart
      // moved instead of re-litigating the whole row every round
      phase("stream_session/pass_initial") {
        pass(64) // real clicks; open sessions held back in state
      }
      // ONE checkpointed restart carrying BOTH sentinels, sequenced into
      // separate micro-batches (maxFilesPerTrigger=1): batch 1 advances
      // the watermark past every real session's end, batch 2 is a DATA
      // batch running under that watermark — so all real sessions emit by
      // the last data batch even if no no-data batch runs. Same proof as
      // the former two-restart staging (restart-from-checkpoint,
      // watermark advance, data-batch emission) at one restart's cost.
      sentinel(365L * 86400L * 1000000L)
      sentinel(730L * 86400L * 1000000L)
      phase("stream_session/pass_restart") {
        pass(1)
      }
      s.read.parquet(outDir)
        .filter(col("topic").startsWith("/u/"))
        .select(substring_index(col("topic"), "/", -1).cast("bigint").as("user_id"),
          unix_micros(col("s_start")).as("s_us"),
          unix_micros(col("s_end")).as("e_us"),
          col("n"), col("sum_value").cast("long").as("sum_cents"))
        .orderBy("user_id", "s_us")
    }),
    "q_join_outer" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val perNation = c.groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
      n.join(perNation, n("n_nationkey") === perNation("c_nationkey"), "full_outer")
        .select(col("n_name"), coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy(col("n_name").asc_nulls_first)
    }),
    "q_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    "q_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM graft_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }),
    "q_lead_lag" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(cents(col("o_totalprice")), 1).over(w).as("prev_cents"),
          lead(cents(col("o_totalprice")), 1).over(w).as("next_cents"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      AsOfJoin.lastOnOrBefore(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"),
          unix_micros(col("click_ts")).as("click_t_us"))
        .orderBy("event_id")
    }),
    // the tolerance variant: matches staler than 24 hours are nulled out
    // (pandas merge_asof(tolerance=...) semantics) — same single-shuffle
    // union+window plan, tolerance applied as a post-window null-out, so
    // the scale shape is identical to the unbounded row
    "q_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      AsOfJoin.lastOnOrBefore(purchases, clicks, Seq("user_id"), "ts", "click_ts",
          toleranceUs = Some(24L * 3600 * 1000000))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"),
          unix_micros(col("click_ts")).as("click_t_us"))
        .orderBy("event_id")
    }),
    // forward-direction as-of: the "next observation" complement —
    // smallest click_ts >= ts, inclusive of equal times
    "q_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      AsOfJoin.firstOnOrAfter(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"),
          unix_micros(col("click_ts")).as("click_t_us"))
        .orderBy("event_id")
    }),
    // nearest-direction as-of (pandas merge_asof direction='nearest'):
    // |Δt|-minimizing match, equidistant ties to the earlier click — one
    // sorted window pass serves both directions
    "q_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      AsOfJoin.nearest(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"),
          unix_micros(col("click_ts")).as("click_t_us"))
        .orderBy("event_id")
    }),
    // skew-hardened as-of: user_id collapsed to 4 hot keys (every key a
    // straggler magnet), joined through the salted variant — results must
    // be IDENTICAL to an unsalted as-of (the oracle never sees the salt)
    "q_asof_skew" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("hot_key", col("user_id") % 4)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "hot_key", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("hot_key"), col("ts").as("click_ts"))
      AsOfJoin.lastOnOrBeforeSalted(purchases, clicks, Seq("hot_key"),
          "ts", "click_ts",
          leftSalt = graft.operators.Sampling.bucketE4(col("event_id")), buckets = 8)
        .select(col("event_id"), col("hot_key"), unix_micros(col("ts")).as("t_us"),
          unix_micros(col("click_ts")).as("click_t_us"))
        .orderBy("event_id")
    }),
    "q_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("ts").as("click_ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts").as("err_ts"))
        .withColumn("w_start", col("err_ts") - expr("INTERVAL 5 MINUTES"))
      RangeJoin.pointInInterval(clicks, errors, "click_ts", "w_start", "err_ts",
          bucketUs = 5L * 60 * 1000000)
        .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
    }),
  )

  def relationalOracles: Map[String, String] = Map(
    // salted skew join ≡ plain inner join on the result level
    // outer CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which pandas
    // renders as float64 and the dtype-sensitive hash rejects
    "q_join_skew" -> """
      |SELECT s_name, CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY 1""".stripMargin.trim,
    // streaming tumbling-day windows ≡ batch GROUP BY date_trunc (UTC,
    // epoch-aligned); sums are integer cents so order cannot matter
    "stream_windowed" -> """
      |SELECT epoch_us(date_trunc('day', ts)) AS w_us,
      |  '/events/' || event_type AS topic, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.trim,
    "q1_agg" -> """
      |SELECT l_returnflag, l_linestatus,
      |  SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty,
      |  SUM(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS sum_base_price,
      |  SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.trim,
    "q_join_broadcast" -> """
      |SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  SUM(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin.trim,
    "q_join_large" -> """
      |SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin.trim,
    "q_join_semi" -> ("SELECT c_custkey FROM customer " +
      "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY 1"),
    "q_join_anti" -> ("SELECT c_custkey FROM customer " +
      "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY 1"),
    "q_window_rank" -> """
      |SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin.trim,
    "q_window_running" -> """
      |SELECT l_suppkey, l_orderkey, l_linenumber,
      |  SUM(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
      |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin.trim,
    "q_topk" -> ("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
      "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10"),
    "q_set_ops" -> """
      |SELECT c_custkey FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |) ORDER BY 1""".stripMargin.trim,
    "q_intersect" -> """
      |SELECT c_custkey FROM (
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 1000
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |) ORDER BY 1""".stripMargin.trim,
    "q_rollup" -> """
      |SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin.trim,
    "q_distinct_agg" -> """
      |SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin.trim,
    "q_moving_sum" -> """
      |SELECT l_suppkey, l_orderkey, l_linenumber, epoch_us(l_shipdate) AS t_us,
      |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) OVER (
      |    PARTITION BY l_suppkey ORDER BY l_shipdate
      |    RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty7d_cents
      |FROM lineitem
      |ORDER BY l_suppkey, t_us, l_orderkey, l_linenumber""".stripMargin.trim,
    "q_gap_fill" -> """
      |WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
      |         SUM(CAST(round(value*100) AS BIGINT)) AS s_cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(d) FROM daily),
      |                                (SELECT MAX(d) FROM daily),
      |                                INTERVAL 1 DAY))::DATE AS d)
      |SELECT CAST(spine.d AS VARCHAR) AS day, COALESCE(daily.n, 0) AS n,
      |  CAST(last_value(daily.s_cents IGNORE NULLS) OVER (
      |    ORDER BY spine.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS carry_cents
      |FROM spine LEFT JOIN daily ON spine.d = daily.d
      |ORDER BY day""".stripMargin.trim,
    "q_unpivot" -> """
      |SELECT l_orderkey, l_linenumber, metric, cents FROM (
      |  SELECT l_orderkey, l_linenumber, 'qty' AS metric,
      |    CAST(round(l_quantity*100) AS BIGINT) AS cents
      |  FROM lineitem WHERE l_orderkey <= 100
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'price',
      |    CAST(round(l_extendedprice*100) AS BIGINT)
      |  FROM lineitem WHERE l_orderkey <= 100
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'disc',
      |    CAST(round(l_discount*100) AS BIGINT)
      |  FROM lineitem WHERE l_orderkey <= 100)
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin.trim,
    "q_ntile" -> """
      |SELECT l_returnflag, l_orderkey, l_linenumber,
      |  ntile(4) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS quartile
      |FROM lineitem
      |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin.trim,
    "q_pivot" -> """
      |SELECT o_orderpriority,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
      |  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
      |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin.trim,
    "q_percentile_exact" -> """
      |SELECT l_returnflag,
      |  quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.25) AS p25_cents,
      |  quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.5) AS p50_cents,
      |  quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.75) AS p75_cents
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin.trim,
    // an event at t covers window starts s ∈ {k·slide : t-len < s ≤ t},
    // i.e. the len/slide starts ending after t; epoch-aligned like Spark
    "q_sliding_window" -> """
      |WITH e AS (
      |  SELECT epoch_us(ts) AS t, CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |x AS (
      |  SELECT t, cents,
      |    unnest(generate_series(
      |      (t - 3600000000 + 900000000) // 900000000,
      |      t // 900000000, 1)) AS k
      |  FROM e)
      |SELECT k * 900000000 AS w_us, COUNT(*) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin.trim,
    // gaps-and-islands: a session breaks when the inter-event gap >= 30min
    // (Spark's session end bound is exclusive, so an event landing exactly
    // at lastTs + gap starts a NEW session); session end = last + gap
    "q_session_window" -> """
      |WITH c AS (
      |  SELECT user_id, ts, CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'click'),
      |m AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |                 THEN 1 ELSE 0 END AS brk
      |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM m)
      |SELECT user_id, epoch_us(MIN(ts)) AS s_us,
      |  epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS e_us,
      |  COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM g GROUP BY user_id, grp ORDER BY user_id, s_us""".stripMargin.trim,
    // the streaming twin must equal the batch gaps-and-islands result on
    // the closed horizon — same oracle as q_session_window
    "stream_session" -> """
      |WITH c AS (
      |  SELECT user_id, ts, CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'click'),
      |m AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |                 THEN 1 ELSE 0 END AS brk
      |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM m)
      |SELECT user_id, epoch_us(MIN(ts)) AS s_us,
      |  epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS e_us,
      |  COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM g GROUP BY user_id, grp ORDER BY user_id, s_us""".stripMargin.trim,
    "q_join_outer" -> """
      |SELECT n_name, COALESCE(n_cust, 0) AS n_cust
      |FROM nation FULL OUTER JOIN
      |  (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) pc
      |  ON n_nationkey = pc.c_nationkey
      |ORDER BY n_name NULLS FIRST""".stripMargin.trim,
    "q_cube" -> """
      |SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin.trim,
    "q_grouping_sets" -> """
      |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin.trim,
    "q_lead_lag" -> """
      |SELECT o_custkey, o_orderkey,
      |  lag(CAST(round(o_totalprice*100) AS BIGINT), 1) OVER w AS prev_cents,
      |  lead(CAST(round(o_totalprice*100) AS BIGINT), 1) OVER w AS next_cents
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin.trim,
    "q_asof_join" -> """
      |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS t_us, epoch_us(c.ts) AS click_t_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin.trim,
    // tolerance ≡ post-CASE on the unbounded ASOF match: the row is kept,
    // the stale payload is nulled
    "q_asof_tolerance" -> """
      |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS t_us,
      |  CASE WHEN c.ts >= p.ts - INTERVAL 24 HOUR THEN epoch_us(c.ts) END AS click_t_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin.trim,
    "q_asof_forward" -> """
      |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS t_us, epoch_us(c.ts) AS click_t_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts <= c.ts
      |ORDER BY p.event_id""".stripMargin.trim,
    // nearest: two directed ASOF matches, the CASE picks the smaller
    // |Δ| with ties to the backward (earlier) row — exactly the engine's
    // choice rule
    "q_asof_nearest" -> """
      |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS t_us,
      |  CASE WHEN b.ts IS NOT NULL AND (f.ts IS NULL OR
      |         epoch_us(p.ts) - epoch_us(b.ts) <= epoch_us(f.ts) - epoch_us(p.ts))
      |       THEN epoch_us(b.ts) ELSE epoch_us(f.ts) END AS click_t_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') b
      |  ON p.user_id = b.user_id AND p.ts >= b.ts
      |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') f
      |  ON p.user_id = f.user_id AND p.ts <= f.ts
      |ORDER BY p.event_id""".stripMargin.trim,
    // the salt is engine-internal and cancels out: the oracle is a plain
    // ASOF join on the collapsed hot key
    "q_asof_skew" -> """
      |SELECT p.event_id, p.user_id % 4 AS hot_key, epoch_us(p.ts) AS t_us,
      |       epoch_us(c.ts) AS click_t_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id % 4 AS hot_key, ts
      |                FROM events WHERE event_type = 'click') c
      |  ON p.user_id % 4 = c.hot_key AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin.trim,
    "q_range_join" -> """
      |SELECT e.event_id, COUNT(*) AS n_clicks
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON c.ts >= e.ts - INTERVAL 5 MINUTE AND c.ts < e.ts
      |GROUP BY 1 ORDER BY 1""".stripMargin.trim,
  )
}

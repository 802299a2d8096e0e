package graft.engine

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

import graft.Queries
import graft.SparkSpec
import graft.api.LocalClient
import graft.fql.Compiler

/** Persistent store + embedded client: append → reopen → FQL query. */
class StoreSpec extends SparkSpec {

  private val fixedClock: Compiler.Clock = () => 1735689600L * 1000000000L // 2025-01-01

  test("create, append, query, reopen round-trip") {
    val root = Queries.scratchDir("graft_store")
    val c = new LocalClient(spark, root, fixedClock)

    c.createTopic("/sensors/temp", "float64")
    c.append("/sensors/temp/garage", 21.5, Timestamp.valueOf("2024-06-01 10:00:00"))
    c.append("/sensors/temp/garage", 23.0, Timestamp.valueOf("2024-06-01 11:00:00"))
    c.append("/sensors/temp/attic", 30.25, Timestamp.valueOf("2024-06-01 10:30:00"))
    c.append("/logs", "started", Timestamp.valueOf("2024-06-01 09:00:00"))

    // prefix query over the typed float topics
    val temps = c.query("all in /sensors/temp")
    assert(temps.count() == 3)
    assert(temps.schema("value").dataType == org.apache.spark.sql.types.DoubleType)

    // time predicate + pipeline through the store
    val recent = c.query("all in /sensors/temp since ~(2024/06/01) + @hour * 10 | filter v -> v > 22")
    assert(recent.count() == 2) // 23.0@11:00 and 30.25@10:30

    // catalog persisted: a fresh client sees schemas and data
    val c2 = new LocalClient(spark, root, fixedClock)
    assert(c2.listTopics.toMap.apply("/sensors/temp") == "float64")
    assert(c2.listTopics.toMap.apply("/sensors/temp/garage") == "float64") // inherited
    assert(c2.query("all in /sensors/temp/garage").count() == 2)

    // stats surface
    val st = c2.stats.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("/sensors/temp/garage") == 2L && st("/logs") == 1L)
  }

  test("prefix scan prunes topic partitions at the file index") {
    val root = Queries.scratchDir("graft_store_pp")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/a", "int64")
    c.createTopic("/b", "int64")
    Seq("/a/x", "/a/y", "/b").foreach { t =>
      c.appendBatch(Seq(org.apache.spark.sql.Row(
        Timestamp.valueOf("2024-01-01 00:00:00"), t, 1L)), "int64")
    }
    val plan = c.query("all in /a/x").queryExecution.executedPlan.toString
    // topic is the physical partition column → prefix predicate becomes a
    // PartitionFilter (no data files of other topics are read)
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("startsWith") || plan.contains("topic"), plan)
    assert(c.query("all in /a/x").count() == 1)
  }

  test("conflicting append schema is rejected") {
    val root = Queries.scratchDir("graft_store2")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/typed", "int64")
    assertThrows[IllegalArgumentException] {
      c.appendBatch(Seq(org.apache.spark.sql.Row(
        Timestamp.valueOf("2024-01-01 00:00:00"), "/typed", "not a long")), "string")
    }
  }

  test("compatible-width append lands under the topic's schema group (visible to queries)") {
    val root = Queries.scratchDir("graft_store4")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/w", "int64")
    // int32 rows into an int64 topic: combine(int64,int32)=int64 → legal,
    // and the data must be readable back through the catalog's group
    c.appendBatch(Seq(org.apache.spark.sql.Row(
      Timestamp.valueOf("2024-01-01 00:00:00"), "/w", 41)), "int32")
    assert(c.query("all in /w").count() == 1)
    assert(c.query("all in /w").select("value").collect()(0).getLong(0) == 41L)
  }

  test("wider append into a narrower topic is rejected (no silent wrap)") {
    val root = Queries.scratchDir("graft_store7")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/narrow", "int32")
    assertThrows[IllegalArgumentException] {
      c.appendBatch(Seq(org.apache.spark.sql.Row(
        Timestamp.valueOf("2024-01-01 00:00:00"), "/narrow", 5000000000L)), "int64")
    }
  }

  test("entries honors the prefix even when topics share a schema group") {
    val root = Queries.scratchDir("graft_store8")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/g1", "int64")
    c.createTopic("/g2", "int64") // same schema group directory
    c.append("/g1", 1L, Timestamp.valueOf("2024-01-01 00:00:00"))
    c.append("/g2", 2L, Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(c.query("all in /g1").count() == 1)
    assert(c.query("all in /g1").select("topic").collect()(0).getString(0) == "/g1")
  }

  test("catalog reload preserves creation-order-legal schemas verbatim") {
    val root = Queries.scratchDir("graft_store5")
    val c = new LocalClient(spark, root, fixedClock)
    // legal at runtime: child created before parent acquires a schema
    c.createTopic("/p/child", "int64")
    c.createTopic("/p", "float64")
    // reload must not replay inheritance in sorted order (which would
    // reject int64 under float64) nor rewrite either entry
    val c2 = new LocalClient(spark, root, fixedClock)
    assert(c2.listTopics.toMap.apply("/p/child") == "int64")
    assert(c2.listTopics.toMap.apply("/p") == "float64")
  }

  test("reduce over an empty selection yields an empty frame, lazily") {
    val root = Queries.scratchDir("graft_store6")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/r", "float64")
    c.append("/r", 5.0, Timestamp.valueOf("2024-01-01 00:00:00"))
    // a * b doesn't match the native agg shapes → general fold path
    val df = c.query("all in /r | filter v -> v > 999 | reduce a, b -> a * b")
    assert(df.count() == 0)
    val nonEmpty = c.query("all in /r | reduce a, b -> a * b")
    assert(nonEmpty.select("value").collect()(0).getDouble(0) == 5.0)
  }

  test("mixed-schema prefix scan widens numerics like schema.Combine") {
    val root = Queries.scratchDir("graft_store3")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/m/a", "int32")
    c.createTopic("/m/b", "int64")
    c.appendBatch(Seq(org.apache.spark.sql.Row(
      Timestamp.valueOf("2024-01-01 00:00:00"), "/m/a", 7)), "int32")
    c.appendBatch(Seq(org.apache.spark.sql.Row(
      Timestamp.valueOf("2024-01-01 00:00:00"), "/m/b", 9L)), "int64")
    val df = c.query("all in /m")
    assert(df.schema("value").dataType == org.apache.spark.sql.types.LongType)
    assert(df.count() == 2)
  }

  test("appendRaw: non-conforming bytes rejected with a typed error") {
    val root = Queries.scratchDir("graft_store_raw1")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/raw/f", "float64")
    // 3 bytes into an 8-byte float64 → schema-on-append gate fires
    assertThrows[SchemaViolationException] {
      c.appendRaw("/raw/f", Array[Byte](1, 2, 3))
    }
    // composite with trailing garbage must fail length-exactness too
    c.createTopic("/raw/c", """{"a": int32, "s": string}""")
    val good = Codec.encode(
      FossilSchema.parse("""{"a": int32, "s": string}"""), Map("a" -> 7, "s" -> "hi"))
    assertThrows[SchemaViolationException] {
      c.appendRaw("/raw/c", good ++ Array[Byte](0))
    }
    assert(c.query("all in /raw").count() == 0) // nothing landed
  }

  test("appendRaw: good bytes round-trip byte-exact through the codec") {
    val root = Queries.scratchDir("graft_store_raw2")
    val c = new LocalClient(spark, root, fixedClock)
    val at = Timestamp.valueOf("2024-06-01 10:00:00")

    c.createTopic("/raw/f", "float64")
    val fBytes = Codec.encode(FossilSchema.SFloat64, 21.5)
    c.appendRaw("/raw/f", fBytes, at)
    val fRow = c.query("all in /raw/f").collect()(0)
    val fBack = fRow.getDouble(fRow.fieldIndex("value"))
    assert(fBack == 21.5)
    // re-encoding what the store returns reproduces the ingested bytes
    assert(Codec.encode(FossilSchema.SFloat64, fBack).sameElements(fBytes))

    val ddl = """{"a": int32, "s": string}"""
    c.createTopic("/raw/c", ddl)
    val cBytes = Codec.encode(FossilSchema.parse(ddl), Map("a" -> 7, "s" -> "hi"))
    c.appendRaw("/raw/c", cBytes, at)
    val cRow = c.query("all in /raw/c").collect()(0)
    val struct = cRow.getStruct(cRow.fieldIndex("value"))
    val back = struct.schema.fieldNames.zip(struct.toSeq).toMap
    assert(back == Map("a" -> 7, "s" -> "hi"))
    // re-encoding what the store returns reproduces the ingested bytes
    assert(Codec.encode(FossilSchema.parse(ddl), back).sameElements(cBytes))
  }

  test("append caps the distinct-topic collect (data-keyed topic fails loudly)") {
    val root = Queries.scratchDir("graft_store_cap")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/cap", "int64") // children inherit int64
    sys.props("graft.store.maxTopicsPerAppend") = "2"
    try {
      val rows = (1 to 3).map(i => org.apache.spark.sql.Row(
        Timestamp.valueOf("2024-01-01 00:00:00"), s"/cap/t$i", i.toLong))
      val e = intercept[IllegalArgumentException] { c.appendBatch(rows, "int64") }
      assert(e.getMessage.contains("distinct topics"))
      // under the cap ingest is unchanged
      c.appendBatch(rows.take(2), "int64")
      assert(c.query("all in /cap").count() == 2)
    } finally sys.props -= "graft.store.maxTopicsPerAppend"
  }

  test("concurrent appends through one shared store all land (serialized persist)") {
    val root = Queries.scratchDir("graft_store_conc")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/conc", "float64")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        try (0 until 3).foreach { i =>
          c.appendRaw(s"/conc/t$t", Codec.encode(FossilSchema.SFloat64, t + i / 10.0),
            Timestamp.valueOf(f"2024-01-01 00:0$t:0$i"))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs)
    assert(c.query("all in /conc").count() == 12)
    // the persisted catalog survived the interleaving: a fresh client
    // still sees every topic
    val c2 = new LocalClient(spark, root, fixedClock)
    (0 until 4).foreach(t => assert(c2.listTopics.toMap.contains(s"/conc/t$t")))
  }

  test("compact: many small append files become one sorted file per topic, results identical") {
    val root = Queries.scratchDir("graft_compact")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/cmp/a", "float64")
    c.createTopic("/cmp/b", "float64")
    // 6 separate appends = at least 6 files per touched topic partition,
    // with deliberately interleaved (unsorted-across-files) times
    (0 until 6).foreach { i =>
      c.append("/cmp/a", i * 1.5, Timestamp.valueOf(f"2024-01-01 00:00:${(7 * i) % 60}%02d"))
      c.append("/cmp/b", i * -2.0, Timestamp.valueOf(f"2024-01-02 00:00:${(11 * i) % 60}%02d"))
    }
    val before = c.query("all in /cmp").orderBy("time", "topic")
      .collect().map(_.toSeq).toSeq
    val stats = c.compact()
    assert(stats.nonEmpty)
    stats.foreach { case (g, b, a) =>
      assert(b >= 12, s"$g expected many small files, had $b")
      assert(a == 2, s"$g expected one file per topic, got $a") // 2 topics
    }
    // identical results through the same query path, and the store still
    // round-trips through a fresh client (catalog untouched by compaction)
    val after = new LocalClient(spark, root, fixedClock)
      .query("all in /cmp").orderBy("time", "topic")
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    // time-range pruning still reaches the compacted parquet
    val plan = c.query("all in /cmp since ~(2024/01/02)").queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("PartitionFilters"))
  }

  test("rejected append leaves no phantom auto-created topics behind") {
    val root = Queries.scratchDir("graft_phantom")
    val c = new LocalClient(spark, root, fixedClock)
    // /ph/x does not exist; the append declares float64 rows into what
    // would auto-create as a string topic → rejected, and /ph/x must NOT
    // be registered (it would persist and block createTopic forever)
    assertThrows[IllegalArgumentException] {
      c.appendBatch(Seq(org.apache.spark.sql.Row(
        Timestamp.valueOf("2024-01-01 00:00:00"), "/ph/x", 1.5)), "float64")
    }
    assert(!c.listTopics.toMap.contains("/ph/x"))
    // the intended schema can still be created afterwards
    c.createTopic("/ph/x", "float64")
    c.append("/ph/x", 1.5, Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(c.query("all in /ph/x").count() == 1)
  }

  test("append fit is lossless: same-width sign flips and lossy casts rejected") {
    val root = Queries.scratchDir("graft_fits")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/f/i8", "int8")
    c.createTopic("/f/u8", "uint8")
    c.createTopic("/f/i64", "int64")
    c.createTopic("/f/f64", "float64")
    def rows(topic: String, v: Any) =
      Seq(org.apache.spark.sql.Row(Timestamp.valueOf("2024-01-01 00:00:00"), topic, v))
    // uint8 declared rows into an int8 topic: combine ranks them equal but
    // the cast would throw (ANSI) or wrap — must be rejected up front
    assertThrows[IllegalArgumentException] { c.appendBatch(rows("/f/i8", 200.toShort), "uint8") }
    // signed into unsigned: rejected
    assertThrows[IllegalArgumentException] { c.appendBatch(rows("/f/u8", (-1).toByte), "int8") }
    // int64 into float64: lossy above 2^53 — rejected
    assertThrows[IllegalArgumentException] { c.appendBatch(rows("/f/f64", 1L), "int64") }
    // legal widenings still work: int32→int64, uint8→int16-family, f32→f64
    c.appendBatch(rows("/f/i64", 42), "int32")
    c.appendBatch(rows("/f/f64", 1.5f), "float32")
    assert(c.query("all in /f").count() == 2)
  }

  test("session: USE switches between named stores") {
    val rootA = Queries.scratchDir("graft_sess_a")
    val rootB = Queries.scratchDir("graft_sess_b")
    val sess = new graft.api.Session(spark, fixedClock)
    sess.attach("a", s"file://$rootA") // file:// connection-string shape
    sess.attach("b", rootB)            // bare-path shape

    sess.use("a")
    sess.client.createTopic("/only/a", "int64")
    sess.client.append("/only/a", 1L, Timestamp.valueOf("2024-01-01 00:00:00"))
    sess.use("b")
    sess.client.createTopic("/only/b", "string")
    sess.client.append("/only/b", "x", Timestamp.valueOf("2024-01-01 00:00:00"))

    assert(sess.use("a").listTopics.toMap.contains("/only/a"))
    assert(!sess.use("a").listTopics.toMap.contains("/only/b"))
    assert(sess.query("all in /only/a").count() == 1) // routes to active store
    assert(sess.use("b").listTopics.toMap.contains("/only/b"))
    assert(sess.query("all in /only/b").count() == 1)
    assertThrows[IllegalArgumentException] { sess.use("nope") }
    // re-attaching a name to a different root is an error, not a silent no-op
    assertThrows[IllegalArgumentException] { sess.attach("a", rootB) }
    sess.attach("a", s"file://$rootA") // same root: idempotent
  }

  test("segmentCount gauge degrades to the last successful count on a " +
      "mid-walk I/O failure, not a false drop to 0") {
    val root = Queries.scratchDir("graft_segcount")
    val store = new ParquetStore(spark, root)
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/g/t", "int64")
    c.append("/g/t", 1L, Timestamp.valueOf("2024-01-01 00:00:00"))
    c.append("/g/t", 2L, Timestamp.valueOf("2024-01-01 00:01:00"))
    val n = store.segmentCount
    assert(n > 0)
    // a walk interrupted by an external writer (IOException mid-stream)
    // serves the cached count — a scrape during cleanup must read as a
    // stale gauge, not an alert-tripping segment-count drop to zero
    val degraded = store.segmentCountOrDegrade(
      () => throw new java.io.IOException("yanked mid-walk"))
    assert(degraded == n)
    // UncheckedIOException (what a lazy Files.walk stream actually throws
    // mid-iteration) degrades the same way
    val degraded2 = store.segmentCountOrDegrade(() =>
      throw new java.io.UncheckedIOException(new java.io.IOException("race")))
    assert(degraded2 == n)
    // and a later successful walk refreshes the cache
    c.append("/g/t", 3L, Timestamp.valueOf("2024-01-01 00:02:00"))
    assert(store.segmentCount > n)
  }

  test("opening a pre-versioning (v1) store auto-upgrades and round-trips") {
    val root = Queries.scratchDir("graft_store_v1")
    // build a store with current code, then strip the version key to
    // synthesize the legacy sidecar a pre-versioning build wrote
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/old/t", "int64")
    c.append("/old/t", 7L, Timestamp.valueOf("2024-03-01 00:00:00"))
    val sidecar = java.nio.file.Paths.get(root, "catalog.json")
    val legacy = new String(Files.readAllBytes(sidecar), "UTF-8")
      .linesIterator.filterNot(_.contains(StoreMigration.VersionKey))
      .mkString("\n").replaceFirst("\\{\\n\\s*,", "{")
    Files.write(sidecar, legacy.getBytes("UTF-8"))
    assert(ParquetStore.loadCatalog(root)._2 == 1)

    // open runs the v1→v2 chain: version stamped, schemas + data intact
    val c2 = new LocalClient(spark, root, fixedClock)
    assert(ParquetStore.loadCatalog(root)._2 == StoreMigration.CurrentVersion)
    assert(c2.listTopics.toMap.apply("/old/t") == "int64")
    assert(c2.query("all in /old/t").count() == 1)
  }

  test("a multi-step migration chain runs every step in order, once") {
    val root = Queries.scratchDir("graft_store_chain")
    val ran = scala.collection.mutable.ArrayBuffer.empty[Int]
    var persisted = 0
    val chain: Map[Int, (String, Catalog) => Unit] = Map(
      1 -> ((_, _) => ran += 1), 2 -> ((_, _) => ran += 2), 3 -> ((_, _) => ran += 3))
    StoreMigration.migrateChain(root, new Catalog, found = 1, current = 4, chain) {
      persisted += 1
    }
    assert(ran.toSeq == Seq(1, 2, 3) && persisted == 1)
    // already-current: nothing runs, nothing persists
    StoreMigration.migrateChain(root, new Catalog, found = 4, current = 4, chain) {
      persisted += 1
    }
    assert(ran.size == 3 && persisted == 1)
    // a hole in the chain is a named failure, and nothing persists
    val e = intercept[IllegalStateException] {
      StoreMigration.migrateChain(root, new Catalog, found = 1, current = 4,
        chain - 2) { persisted += 1 }
    }
    assert(e.getMessage.contains("version 2") && persisted == 1)
  }

  test("a NEWER store format refuses with both versions named") {
    val root = Queries.scratchDir("graft_store_vnew")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/x", "int64")
    val sidecar = java.nio.file.Paths.get(root, "catalog.json")
    val bumped = new String(Files.readAllBytes(sidecar), "UTF-8")
      .replace(s""""${StoreMigration.VersionKey}": "${StoreMigration.CurrentVersion}"""",
        s""""${StoreMigration.VersionKey}": "99"""")
    Files.write(sidecar, bumped.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { new ParquetStore(spark, root) }
    assert(e.getMessage.contains("99") &&
      e.getMessage.contains(StoreMigration.CurrentVersion.toString))
    // the refused open must not have rewritten the sidecar
    assert(ParquetStore.loadCatalog(root)._2 == 99)
  }

  /** Every data file under `root/data` whose name is not hidden. */
  private def visibleFiles(root: String): Seq[java.nio.file.Path] = {
    val data = java.nio.file.Paths.get(root, "data")
    if (!Files.exists(data)) Seq.empty
    else {
      val st = Files.walk(data)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toList finally st.close()
    }
  }

  private def topicFiles(root: String, topic: String): Seq[java.nio.file.Path] = {
    val dir = ExternalCatalogUtils.getPartitionPathString("topic", topic)
    visibleFiles(root).filter(_.getParent.getFileName.toString == dir)
  }

  /** Collected rows with binary and NaN values made comparable. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case f: Float if f.isNaN => "NaN"
      case x => x
    }).toSeq.sortBy(_.toString)

  test("driver landing and the Spark write land equal entries and equal Parquet footers") {
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-01-01 00:00:05")
    // (topic, topic ddl, append ddl, two values): every scalar, a fixed
    // array, a composite, and two widening casts
    val cases: Seq[(String, String, String, Seq[Any])] = Seq(
      ("/ty/string", "string", "string", Seq("a", "b")),
      ("/ty/binary", "binary", "binary", Seq(Array[Byte](1, 2), Array[Byte]())),
      ("/ty/boolean", "boolean", "boolean", Seq(true, false)),
      ("/ty/int8", "int8", "int8", Seq((-3).toByte, 127.toByte)),
      ("/ty/int16", "int16", "int16", Seq((-300).toShort, 3.toShort)),
      ("/ty/int32", "int32", "int32", Seq(-70000, 1)),
      ("/ty/int64", "int64", "int64", Seq(Long.MinValue, 5L)),
      ("/ty/uint8", "uint8", "uint8", Seq(255.toShort, 0.toShort)),
      ("/ty/uint16", "uint16", "uint16", Seq(65535, 1)),
      ("/ty/uint32", "uint32", "uint32", Seq(4294967295L, 2L)),
      ("/ty/uint64", "uint64", "uint64", Seq(Long.MaxValue, 3L)),
      ("/ty/float32", "float32", "float32", Seq(1.5f, Float.NaN)),
      ("/ty/float64", "float64", "float64", Seq(-2.25, Double.MaxValue)),
      ("/ty/array", "[3]int32", "[3]int32", Seq(Seq(1, 2, 3), Seq(-1, 0, 1))),
      ("/ty/composite", """{"a": int32, "s": string}""", """{"a": int32, "s": string}""",
        Seq(Row(7, "hi"), Row(-1, ""))),
      ("/ty/widen", "int64", "int32", Seq(41, -41)),
      ("/ty/widenarr", "[2]float64", "[2]float32", Seq(Seq(0.5f, 1.5f), Seq(2f, 3f))))
    val rootA = Queries.scratchDir("graft_land_driver")
    val rootB = Queries.scratchDir("graft_land_spark")
    val a = new LocalClient(spark, rootA, fixedClock)
    val b = new LocalClient(spark, rootB, fixedClock)
    cases.foreach { case (topic, topicDdl, ddl, vs) =>
      a.createTopic(topic, topicDdl)
      b.createTopic(topic, topicDdl)
      val rows = Seq(Row(t2, topic, vs(0)), Row(t1, topic, vs(1)))
      a.appendBatch(rows, ddl)
      b.appendFrame(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        ParquetStore.entrySchema(FossilSchema.parse(ddl).sparkType)), ddl)
    }
    val (sa, sb) = (new ParquetStore(spark, rootA), new ParquetStore(spark, rootB))
    cases.foreach { case (topic, _, _, _) =>
      val (ea, eb) = (sa.entries(topic), sb.entries(topic))
      assert(ea.schema == eb.schema, topic)
      assert(rowsOf(ea) == rowsOf(eb), topic)
      // one file per topic on both paths, with the same footer
      val (Seq(fa), Seq(fb)) = (topicFiles(rootA, topic), topicFiles(rootB, topic))
      def footer(f: java.nio.file.Path) = {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
        try {
          val m = r.getFooter.getFileMetaData
          (m.getSchema, m.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
            r.getRecordCount)
        } finally r.close()
      }
      assert(footer(fa) == footer(fb), topic)
      assert(fa.getFileName.toString.matches("part-[0-9a-f-]{36}\\.c000\\..*parquet"), fa)
    }
    // the driver path sorts by time within the file
    assert(a.query("all in /ty/int64").collect().map(_.getTimestamp(0)).toSeq == Seq(t1, t2))
  }

  test("append, appendBatch and appendRaw submit no Spark job") {
    val root = Queries.scratchDir("graft_land_nojob")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/nj", "float64")
    val at = Timestamp.valueOf("2024-01-01 00:00:00")
    val jobs = jobsDuring {
      c.append("/nj/a", 1.5, at) // a new topic
      c.append("/nj/a", 2.5, at) // an existing one
      c.appendBatch(Seq(Row(at, "/nj/a", 3.5), Row(at, "/nj/b", 4.5)), "float64")
      c.appendRaw("/nj/c", Codec.encode(FossilSchema.SFloat64, 5.5), at)
    }
    assert(jobs == 0)
    assert(rowsOf(c.query("all in /nj").select("value")) ==
      Seq(1.5, 2.5, 3.5, 4.5, 5.5).map(Seq(_)))
  }

  test("a failed driver landing leaves no visible file and no phantom topic") {
    val root = Queries.scratchDir("graft_land_fail")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/lf", "int64")
    val at = Timestamp.valueOf("2024-01-01 00:00:00")
    def untouched(topics: String*): Unit = {
      topics.foreach(t => assert(topicFiles(root, t).isEmpty, t))
      val reopened = new LocalClient(spark, root, fixedClock).listTopics.toMap
      topics.foreach(t => assert(!c.listTopics.toMap.contains(t) && !reopened.contains(t), t))
    }
    // a value that does not convert, on the cast path (int32 into int64)
    intercept[Exception] {
      c.appendBatch(Seq(Row(at, "/lf/a", 1), Row(at, "/lf/b", "not an int")), "int32")
    }
    untouched("/lf/a", "/lf/b")
    // a writer failure on the second topic: a plain file where its
    // partition directory goes
    val group = java.nio.file.Paths.get(root, "data",
      s"sgroup=${ParquetStore.schemaKey(FossilSchema.SInt64)}")
    Files.createDirectories(group)
    val blocker = group.resolve(ExternalCatalogUtils.getPartitionPathString("topic", "/lf/b"))
    Files.write(blocker, Array[Byte](0))
    intercept[java.io.IOException] {
      c.appendBatch(Seq(Row(at, "/lf/a", 1L), Row(at, "/lf/b", 2L)), "int64")
    }
    untouched("/lf/a", "/lf/b")
    assert(Files.list(group.resolve(ExternalCatalogUtils.getPartitionPathString("topic", "/lf/a")))
      .count() == 0) // the first topic's temp file is gone too
    Files.delete(blocker)
    c.appendBatch(Seq(Row(at, "/lf/a", 1L), Row(at, "/lf/b", 2L)), "int64")
    assert(c.query("all in /lf").count() == 2)
  }

  test("an append to existing topics leaves catalog.json untouched") {
    val root = Queries.scratchDir("graft_land_sidecar")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/sc", "float64")
    val at = Timestamp.valueOf("2024-01-01 00:00:00")
    c.append("/sc/a", 1.0, at)
    val sidecar = java.nio.file.Paths.get(root, "catalog.json")
    def stamp = (Files.readAllBytes(sidecar).toSeq, Files.getLastModifiedTime(sidecar))
    val before = stamp
    Thread.sleep(20) // a rewrite would move the mtime
    c.append("/sc/a", 2.0, at)
    c.appendBatch(Seq(Row(at, "/sc", 3.0), Row(at, "/sc/a", 4.0)), "float64")
    c.appendRaw("/sc/a", Codec.encode(FossilSchema.SFloat64, 5.0), at)
    c.appendFrame(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(at, "/sc/a", 6.0)), 1),
      ParquetStore.entrySchema(org.apache.spark.sql.types.DoubleType)), "float64")
    assert(stamp == before)
    assert(c.query("all in /sc").count() == 6)
    // a new topic is persisted (before its data lands)
    c.append("/sc/b", 7.0, at)
    assert(stamp != before)
    assert(new LocalClient(spark, root, fixedClock).listTopics.toMap.get("/sc/b").contains("float64"))
  }

  test("schema groups read with the catalog schema: no inference job, same rows and types") {
    val root = Queries.scratchDir("graft_read_schema")
    val c = new LocalClient(spark, root, fixedClock)
    val at = Timestamp.valueOf("2024-01-01 00:00:00")
    val cases: Seq[(String, String, Any)] = Seq(
      ("/rs/u8", "uint8", 200.toShort), ("/rs/u16", "uint16", 65000),
      ("/rs/u32", "uint32", 4000000000L), ("/rs/u64", "uint64", 9L),
      ("/rs/arr", "[2]float64", Seq(1.5, -2.5)), ("/rs/arri", "[3]uint8", Seq[Short](1, 2, 255)),
      ("/rs/comp", """{"n": uint16, "v": [2]int32}""", Row(60000, Seq(1, 2))))
    cases.foreach { case (t, ddl, v) =>
      c.createTopic(t, ddl)
      c.appendBatch(Seq(Row(at, t, v)), ddl)
    }
    val store = new ParquetStore(spark, root)
    cases.foreach { case (t, ddl, _) =>
      var typed: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { typed = store.entries(t) } == 0, t)
      // the footer-inferred read of the same group, as before
      val inferred = spark.read
        .parquet(s"$root/data/sgroup=${ParquetStore.schemaKey(FossilSchema.parse(ddl))}")
        .filter(org.apache.spark.sql.functions.col("topic") === t)
        .select("time", "topic", "value")
      assert(ParquetStore.sameModuloNullability(typed.schema("value").dataType,
        inferred.schema("value").dataType), t)
      assert(rowsOf(typed) == rowsOf(inferred), t)
      assert(rowsOf(store.topicEntries(t)) == rowsOf(inferred), t)
    }
  }
}

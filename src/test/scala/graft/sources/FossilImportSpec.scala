package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.Queries
import graft.SparkSpec
import graft.engine.ParquetStore

/** Drives [[FossilDatabase]] against the COMMITTED fixtures under
  * `src/test/resources/fossil/` — written by the independent Python
  * replica (`scripts/gen_fossil_fixture.py`), so reader and fixture do not
  * share an implementation. Covers: v2 snapshot + WAL replay with corrupt
  * lines skipped, v1 migration semantics (all topics → string), the
  * WAL-only version-0 layout, and a full import into a ParquetStore
  * queried back through the engine. */
class FossilImportSpec extends SparkSpec {

  private val fixtures = "src/test/resources/fossil"

  private def render(v: Any): String = v match {
    case d: Double => d.toString
    case s: String => s
    case m: Map[_, _] =>
      // the only composite fixture is {"note": string, "temp": float64}
      val mm = m.asInstanceOf[Map[String, Any]]
      s"note=${mm("note")}|temp=${mm("temp")}"
    case r: Row =>
      // composite through the store: sparkType sorts keys → 0=note, 1=temp
      s"note=${r.get(0)}|temp=${r.get(1)}"
    case other => other.toString
  }

  private def expected(dir: String): Seq[(Long, String, String)] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(s"$fixtures/$dir/expected.tsv")).asScala.toSeq
      .filter(_.nonEmpty)
      .map { line =>
        val Array(t, topic, value) = line.split("\t", 3)
        (t.toLong, topic, value)
      }
  }

  /** Every imported entry, decoded per its topic's schema — the full-row
    * comparison surface. (The STORE read-back is asserted separately on
    * schema-homogeneous prefixes: a `/` prefix over mixed schemas is
    * Ambiguous by the reference's combine rules, deliberately untyped.) */
  private def decodedRows(dir: String): Seq[(Long, String, String)] =
    FossilDatabase.rawEntries(spark, s"$fixtures/$dir").collect().toSeq
      .map { r =>
        val ddl = r.getAs[String]("ddl")
        val v = graft.engine.Codec.decode(
          graft.engine.FossilSchema.parse(ddl), r.getAs[Array[Byte]]("data"))
        (r.getAs[Long]("t_ns"), r.getAs[String]("topic"), render(v))
      }
      .sortBy(t => (t._1, t._2))

  /** Store round-trip timestamps come back at µs precision. */
  private def usTruncate(rows: Seq[(Long, String, String)]): Seq[(Long, String, String)] =
    rows.map { case (ns, t, v) => (ns / 1000L * 1000L, t, v) }

  private def storeRows(store: ParquetStore, prefix: String): Seq[(Long, String, String)] =
    store.entries(prefix).collect().toSeq
      .map { r =>
        val inst = r.getAs[java.sql.Timestamp]("time").toInstant
        val ns = inst.getEpochSecond * 1000000000L + inst.getNano
        (ns, r.getAs[String]("topic"), render(r.get(r.fieldIndex("value"))))
      }
      .sortBy(t => (t._1, t._2))

  test("v2 fixture: snapshot + WAL tail + WAL segment, corrupt lines skipped") {
    val db = FossilDatabase.open(s"$fixtures/v2")
    assert(db.topics.length == 6) // 5 snapshot + /alerts from the WAL
    assert(db.topics.last == "/alerts")
    assert(db.walSkipped == 3) // the three planted corrupt lines
    assert(db.snapshotFiles.length == 2)
    assert(db.walSegments.length == 1)
    assert(db.walTail.length == 2)

    assert(decodedRows("v2") == expected("v2"))
  }

  test("v2 fixture: import into a ParquetStore reads back typed per prefix") {
    val root = Queries.scratchDir("graft_fossil_import_v2")
    val store = new ParquetStore(spark, root)
    val (nTopics, nEntries, nSkipped) =
      FossilDatabase.importInto(spark, s"$fixtures/v2", store)
    assert(nTopics == 6 && nEntries == 17L && nSkipped == 3)
    val exp = usTruncate(expected("v2"))
    def expUnder(p: String) = exp.filter(_._2.startsWith(p))
    assert(storeRows(store, "/sensors") == expUnder("/sensors"))
    assert(storeRows(store, "/logs") == expUnder("/logs"))
    assert(storeRows(store, "/readings") == expUnder("/readings"))
    assert(storeRows(store, "/alerts") == expUnder("/alerts"))
  }

  test("v2 fixture: schema table decodes through zlib + Go JSON escaping") {
    val db = FossilDatabase.open(s"$fixtures/v2")
    assert(db.schemas.take(2) == Vector("string", "float64"))
    assert(db.schemas(4) == """{"note": string, "temp": float64}""")
  }

  test("v1 fixture: gob database file, every topic migrated to string") {
    val db = FossilDatabase.open(s"$fixtures/v1")
    assert(db.topics == Vector("/", "/legacy/a", "/legacy/b"))
    assert(db.schemas.forall(_ == "string"))
    assert(db.inlineSegments.length == 1)
    assert(decodedRows("v1") == expected("v1"))
    // all-string schemas → the root prefix reads back typed end-to-end
    val root = Queries.scratchDir("graft_fossil_import_v1")
    val store = new ParquetStore(spark, root)
    FossilDatabase.importInto(spark, s"$fixtures/v1", store)
    assert(storeRows(store, "/") == usTruncate(expected("v1")))
  }

  test("WAL-only fixture: version 0 database replays from the log alone") {
    assert(FossilDatabase.detectVersion(s"$fixtures/walonly") == 0)
    val db = FossilDatabase.open(s"$fixtures/walonly")
    assert(db.topics == Vector("/", "/fresh"))
    assert(db.schemas == Vector("string", "float64"))
    assert(decodedRows("walonly") == expected("walonly"))
    val root = Queries.scratchDir("graft_fossil_import_w0")
    val store = new ParquetStore(spark, root)
    FossilDatabase.importInto(spark, s"$fixtures/walonly", store)
    assert(storeRows(store, "/fresh") == usTruncate(expected("walonly")))
  }

  test("round-trip: FossilWriter v2 output re-imports identically") {
    import FossilDatabase.{Datum, Segment}
    val dir = Queries.scratchDir("graft_fossil_rt")
    val h = 1700000000000000000L
    FossilWriter.writeV2(dir,
      topics = Seq("/", "/m"),
      schemas = Seq("string", "float64"),
      segments = Seq(Segment(h, Vector(
        Datum(1000000000L, 1, java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(2.5).array()),
        Datum(2000000000L, 0, "x".getBytes)))),
      sTimeNs = h, segmentSize = 64)
    FossilWriter.appendWal(dir, Seq(
      FossilWriter.walAddEvent(Datum(3000000000L, 1,
        java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(4.25).array()))))
    val db = FossilDatabase.open(dir)
    assert(db.topics == Vector("/", "/m"))
    assert(db.walTail.length == 1)
    val raw = FossilDatabase.rawEntries(spark, dir)
      .orderBy("t_ns").collect()
    assert(raw.length == 3)
    assert(raw.map(_.getAs[Long]("t_ns")).toSeq ==
      Seq(h + 1000000000L, h + 2000000000L, h + 3000000000L))
    assert(raw(0).getAs[String]("topic") == "/m")
    assert(raw(2).getAs[String]("ddl") == "float64")
  }

  test("export round-trip: store → fossil v2 dir → re-import preserves " +
      "every (time, topic, value)") {
    // hydrate a store from the v2 fixture (segments + WAL tail), export
    // it back out as a fossil directory, and re-open THAT: every row must
    // survive both directions (times at the store's µs precision; export
    // re-sorts globally and re-segments, so compare as ordered sets)
    val root = Queries.scratchDir("graft_fossil_exp_store")
    val store = new ParquetStore(spark, root)
    FossilDatabase.importInto(spark, s"$fixtures/v2", store)
    val out = Queries.scratchDir("graft_fossil_exp_dir")
    val (nTopics, nEntries) = FossilExport.export(spark, store, out)
    assert(nTopics == 6 && nEntries == 17L)

    val back = FossilDatabase.rawEntries(spark, out).collect().toSeq
      .map { r =>
        val ddl = r.getAs[String]("ddl")
        val v = graft.engine.Codec.decode(
          graft.engine.FossilSchema.parse(ddl), r.getAs[Array[Byte]]("data"))
        (r.getAs[Long]("t_ns"), r.getAs[String]("topic"), render(v))
      }.sortBy(t => (t._1, t._2))
    assert(back == usTruncate(expected("v2")))
    // and the exported directory carries the schema table faithfully
    val db2 = FossilDatabase.open(out)
    assert(db2.topics.zip(db2.schemas).toMap ==
      FossilDatabase.open(s"$fixtures/v2").topics
        .zip(FossilDatabase.open(s"$fixtures/v2").schemas).toMap)
  }

  test("corrupt WAL: events before any segment are skipped, not fatal") {
    import FossilDatabase.Datum
    val dir = Queries.scratchDir("graft_fossil_corrupt")
    FossilWriter.appendWal(dir, Seq(
      FossilWriter.walAddEvent(Datum(1L, 0, "orphan".getBytes)), // no segment yet
      FossilWriter.walAddSegment(1700000000000000000L),
      FossilWriter.walAddTopic("/t", "string"),
      FossilWriter.walAddEvent(Datum(2L, 1, "kept".getBytes))))
    val db = FossilDatabase.open(dir)
    assert(db.walSkipped == 1)
    assert(db.walSegments.head.data.map(d => new String(d.data)) == Vector("kept"))
  }

  test("unknown topic ids degrade to a marked topic instead of crashing") {
    import FossilDatabase.{Datum, Segment}
    val dir = Queries.scratchDir("graft_fossil_unk")
    FossilWriter.writeV2(dir, Seq("/"), Seq("string"),
      Seq(Segment(1700000000000000000L,
        Vector(Datum(1L, 9, "stray".getBytes)))),
      sTimeNs = 0L, segmentSize = 8)
    val raw = FossilDatabase.rawEntries(spark, dir).collect()
    assert(raw.head.getAs[String]("topic") == "/__unknown_topic_9")
    assert(raw.head.getAs[String]("ddl") == "binary")

    // ...and importInto LANDS them (under the synthesized binary topic)
    // instead of silently excluding rows whose ddl no catalog topic has
    val storeRoot = Queries.scratchDir("graft_fossil_unk_store")
    val (_, entries, _) = FossilDatabase.importInto(spark, dir,
      new graft.engine.ParquetStore(spark, storeRoot))
    assert(entries == 1L)
    val lc = new graft.api.LocalClient(spark, storeRoot)
    val got = lc.query("all")
      .filter(org.apache.spark.sql.functions.col("topic") === "/__unknown_topic_9")
      .collect()
    assert(got.length == 1)
    assert(new String(got.head.getAs[Array[Byte]]("value")) == "stray")
  }

  test("WAL action parsing matches strconv.Atoi: padded ' 1;...' lines " +
      "are corrupt and skip, not salvage") {
    import FossilDatabase.Datum
    val dir = Queries.scratchDir("graft_fossil_pad")
    FossilWriter.appendWal(dir, Seq(
      FossilWriter.walAddSegment(1700000000000000000L),
      FossilWriter.walAddEvent(Datum(2L, 0, "kept".getBytes))))
    // plant a padded-action copy of a valid line: Go's Atoi rejects it
    val wal = java.nio.file.Paths.get(dir, "wal.log")
    val lines = java.nio.file.Files.readAllLines(wal)
    java.nio.file.Files.write(wal,
      java.util.List.of(lines.get(0), " " + lines.get(1), lines.get(1)))
    val db = FossilDatabase.open(dir)
    assert(db.walSkipped == 1)
    assert(db.walSegments.head.data.size == 1)
  }

  test("truncated topics/schemas JSON fails with the typed error, not " +
      "StringIndexOutOfBounds") {
    for (bad <- Seq("[\"a", "[\"a\"", "[\"a\\", "[\"a\\u00",
        "[\"a\" ", "[\"a\",")) {
      val e = intercept[IllegalArgumentException](
        graft.engine.Json.stringArray(bad, "topics"))
      assert(e.getMessage.contains("unterminated JSON array"), s"'$bad' -> $e")
    }
  }
}

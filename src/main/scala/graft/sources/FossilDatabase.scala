package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{FossilSchema, Json, ParquetStore, StoreFs}
import graft.functions.FossilDecode

/** Reader for fossil's on-disk database layout — the migration path OFF a
  * native fossil deployment and into the engine's ParquetStore.
  *
  * Layout (reference `pkg/database/db.go:139-241` `deserializeInternal`):
  *   - `metadata`: LE uint32 version, LE uint32 segment count, LE uint32
  *     current segment, then the last-serialize time as RFC3339 text.
  *   - `segments/<i>`: one gob stream per segment —
  *     `Segment{HeadTime time.Time, Series [10000]Datum, Size int}` with
  *     `Datum{Delta time.Duration, TopicID int, Data []byte}`
  *     (`pkg/database/segment.go:24-28`, `datum.go:13-17`).
  *   - `topics` / `schemas`: zlib-compressed JSON string arrays.
  *   - `wal.log`: replayed ON TOP of the snapshot — text lines
  *     `<action>;<base64(gob)>` with actions addEvent=1 / addSegment=2 /
  *     addTopic=4; corrupt lines are skipped to salvage the good tail
  *     (`pkg/database/log.go:32-97`).
  *   - v1 (`pkg/database/migration.go:47-72`): a single gob `database`
  *     file; every topic's schema becomes "string" on migration.
  *
  * An entry's timestamp is `HeadTime + Delta` (`pkg/database/db.go:542`).
  *
  * Scale: a fossil store is a directory of ≤10k-datum segment files, so
  * the import parallelizes over segment FILES — executors gob-decode
  * their own files; the driver touches only the metadata (3 ints + a
  * timestamp), the catalog-sized topic/schema tables, the WAL tail
  * (bounded: the reference spills and truncates the WAL every
  * `SegmentSize` appends, `pkg/database/db.go:507-512`), and the single
  * current-segment file the WAL tail continues. */
object FossilDatabase {

  final case class Datum(deltaNs: Long, topicId: Int, data: Array[Byte])
  final case class Segment(headTimeNs: Long, data: Vector[Datum])

  /** Driver-side view of an opened database. Snapshot segment CONTENT is
    * deliberately absent for v2 — only file paths, so the data plane
    * stays distributed; v1's single-file snapshot decodes inline. */
  final case class Db(
      version: Int,
      topics: Vector[String],
      schemas: Vector[String],
      snapshotFiles: Vector[String],
      inlineSegments: Vector[Segment],
      walSegments: Vector[Segment],
      walTail: Vector[Datum],
      walSkipped: Int) {
    def ddlOf(topicId: Int): String =
      if (topicId >= 0 && topicId < schemas.length) schemas(topicId) else "binary"
    def topicOf(topicId: Int): String =
      if (topicId >= 0 && topicId < topics.length) topics(topicId)
      else s"/__unknown_topic_$topicId"

    /** The segments whose datums the driver holds, in read order: v1's
      * inline segments, the WAL-born segments, then the WAL tail. The
      * tail's deltas continue the snapshot's current (last) segment, so
      * for v2 that one file's HeadTime is decoded here, driver-side. */
    def driverSegments: Vector[Segment] = {
      val tail =
        if (walTail.isEmpty) Vector.empty
        else {
          val headNs =
            if (inlineSegments.nonEmpty) inlineSegments.last.headTimeNs
            else decodeSegment(StoreFs.readBytes(snapshotFiles.last)).headTimeNs
          Vector(Segment(headNs, walTail))
        }
      inlineSegments ++ walSegments ++ tail
    }
  }

  /** `pkg/database/db.go:71-85`: "" → "/", prefix "/", strip trailing "/". */
  def normalizeTopicName(t0: String): String = {
    var t = if (t0.isEmpty) "/" else t0
    if (t.head != '/') t = "/" + t
    if (t.length > 1 && t.last == '/') t = t.dropRight(1)
    t
  }

  // ------------------------------------------------------------------ open

  /** `pkg/database/migration.go:107-135` detectVersion. */
  def detectVersion(dir: String): Int = {
    val meta = s"$dir/metadata"
    if (!StoreFs.exists(meta)) {
      if (StoreFs.exists(s"$dir/database")) 1 else 0
    } else {
      val bytes = StoreFs.readBytes(meta)
      if (bytes.length < 4) 0
      else ByteBuffer.wrap(bytes, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    }
  }

  /** Open a fossil database directory: snapshot catalog (v1 or v2) + WAL
    * replay. Mirrors `NewDatabase` (`pkg/database/db.go:654-711`) without
    * the write-back steps — the import is read-only on the fossil side. */
  def open(dir: String): Db = {
    val snapshot = detectVersion(dir) match {
      case 2 => openV2(dir)
      case 1 => openV1(dir)
      case 0 => Db(2, Vector.empty, Vector.empty, Vector.empty,
        Vector.empty, Vector.empty, Vector.empty, 0)
      case v => throw new IllegalArgumentException(
        s"cannot read fossil database: on-disk version $v is newer than 2")
    }
    replayWal(s"$dir/wal.log", snapshot)
  }

  private def openV2(dir: String): Db = {
    val meta = StoreFs.readBytes(s"$dir/metadata")
    val buf = ByteBuffer.wrap(meta).order(ByteOrder.LITTLE_ENDIAN)
    val version = buf.getInt
    val segmentCount = buf.getInt
    buf.getInt // current — for a read-only import every file is read
    // rest of the file = RFC3339 STime; informational only

    val files = (0 until segmentCount).map(i => s"$dir/segments/$i").toVector
    // zlib over `json.Marshal` of a `[]string` (`\uXXXX` escapes for `<`, `>`, `&`)
    def strings(name: String) = {
      val p = s"$dir/$name"
      val in = new java.util.zip.InflaterInputStream(
        new java.io.ByteArrayInputStream(StoreFs.readBytes(p)))
      try Json.stringArray(new String(in.readAllBytes(), StandardCharsets.UTF_8), p)
      finally in.close()
    }
    val topics = strings("topics").map(normalizeTopicName)
    val schemas = strings("schemas")
    Db(version, topics, schemas, files, Vector.empty, Vector.empty, Vector.empty, 0)
  }

  /** v1: one gob file holding the whole database struct; migration gives
    * every topic the "string" schema (`pkg/database/migration.go:76-100`). */
  private def openV1(dir: String): Db = {
    val r = new Gob.Reader(StoreFs.readBytes(s"$dir/database"))
    val m = r.next().getOrElse(throw new Gob.GobException("empty v1 database file"))
      .asInstanceOf[Map[String, Any]]
    val topics = m.getOrElse("TopicLookup", Vector.empty).asInstanceOf[Vector[Any]]
      .map(t => normalizeTopicName(t.asInstanceOf[String]))
    val segments = m.getOrElse("Segments", Vector.empty).asInstanceOf[Vector[Any]]
      .map(s => segmentFromMap(s.asInstanceOf[Map[String, Any]]))
    Db(2, topics, topics.map(_ => "string"), Vector.empty, segments,
      Vector.empty, Vector.empty, 0)
  }

  /** One gob segment file → Segment. */
  def decodeSegment(bytes: Array[Byte]): Segment = {
    val r = new Gob.Reader(bytes)
    val m = r.next().getOrElse(throw new Gob.GobException("empty segment file"))
      .asInstanceOf[Map[String, Any]]
    segmentFromMap(m)
  }

  private def segmentFromMap(m: Map[String, Any]): Segment = {
    val head = m.get("HeadTime") match {
      case Some(b: Array[Byte]) => Gob.GoTime.decodeToEpochNanos(b)
      case _ => 0L // zero time — possible for an empty WAL-born segment
    }
    val size = m.get("Size").map(_.asInstanceOf[Long].toInt).getOrElse(0)
    val series = m.get("Series").map(_.asInstanceOf[Vector[Any]]).getOrElse(Vector.empty)
    val data = series.take(size).map(d => datumFromMap(d.asInstanceOf[Map[String, Any]]))
    Segment(head, data)
  }

  private def datumFromMap(m: Map[String, Any]): Datum = Datum(
    deltaNs = m.get("Delta").map(_.asInstanceOf[Long]).getOrElse(0L),
    topicId = m.get("TopicID").map(_.asInstanceOf[Long].toInt).getOrElse(0),
    data = m.get("Data").map(_.asInstanceOf[Array[Byte]]).getOrElse(Array.emptyByteArray))

  // ------------------------------------------------------------------- WAL

  private val ActionAddEvent = 1
  private val ActionAddSegment = 2
  private val ActionAddTopic = 4

  /** Replay `wal.log` on top of a snapshot. Any line that fails to parse —
    * bad action int, bad base64, bad gob — is SKIPPED, salvaging the good
    * tail exactly like the reference (`pkg/database/log.go:41-45`); the
    * skip count is surfaced on the Db so an import can report it instead
    * of silently eating corruption.
    *
    * WAL events continue the snapshot's CURRENT (last) segment until the
    * WAL itself opens a new one (`pkg/database/log.go:60-77`): events
    * before any WAL-born segment land in `walTail`, after in the last of
    * `walSegments`. An event with no segment anywhere is corruption —
    * skipped (the reference would crash; its own FIXME marks the gap). */
  private[sources] def replayWal(path: String, snapshot: Db): Db = {
    if (!StoreFs.exists(path)) return snapshot
    var topics = snapshot.topics
    var schemas = snapshot.schemas
    var walSegments = snapshot.walSegments
    var walTail = snapshot.walTail
    var skipped = 0
    val hasSnapshotSegments =
      snapshot.snapshotFiles.nonEmpty || snapshot.inlineSegments.nonEmpty

    // split on the same terminators readAllLines recognizes; Java split
    // drops trailing empties, matching readAllLines' no-phantom-last-line
    new String(StoreFs.readBytes(path), StandardCharsets.UTF_8)
      .split("\r\n|\r|\n").foreach { line =>
      try {
        val semi = line.indexOf(';')
        if (semi < 0) throw new Gob.GobException("no action separator")
        // no trim: the reference's strconv.Atoi rejects ' 1;...' lines
        // (they count as corrupt and skip) — matching its salvage exactly
        val action = line.substring(0, semi).toInt
        val payload = java.util.Base64.getDecoder.decode(line.substring(semi + 1))
        val r = new Gob.Reader(payload)
        action match {
          case ActionAddEvent =>
            val d = datumFromMap(r.next().get.asInstanceOf[Map[String, Any]])
            if (walSegments.nonEmpty) {
              val cur = walSegments.last
              walSegments = walSegments.init :+ cur.copy(data = cur.data :+ d)
            } else if (hasSnapshotSegments) walTail = walTail :+ d
            else throw new Gob.GobException("event before any segment")
          case ActionAddSegment =>
            val t = Gob.GoTime.decodeToEpochNanos(r.next().get.asInstanceOf[Array[Byte]])
            walSegments = walSegments :+ Segment(t, Vector.empty)
          case ActionAddTopic =>
            // "topic:schema" or bare "topic" → schema "string"
            // (`pkg/database/log.go:78-97`); invalid schema text degrades
            // to "string" like loadSchema (`pkg/database/db.go:105-123`)
            val s = r.next().get.asInstanceOf[String]
            val idx = s.indexOf(':')
            val (topic, ddl) =
              if (idx < 0) (s, "string") else (s.substring(0, idx), s.substring(idx + 1))
            val safeDdl = if (Try(FossilSchema.parse(ddl)).isSuccess) ddl else "string"
            topics = topics :+ normalizeTopicName(topic)
            schemas = schemas :+ safeDdl
          case _ => throw new Gob.GobException(s"unknown action $action")
        }
      } catch { case _: Exception => skipped += 1 }
    }
    snapshot.copy(topics = topics, schemas = schemas, walSegments = walSegments,
      walTail = walTail, walSkipped = snapshot.walSkipped + skipped)
  }

  // ------------------------------------------------------------ DataFrames

  /** Raw entries `(t_ns LONG, topic STRING, ddl STRING, data BINARY)`.
    *
    * v2 snapshot segments decode DISTRIBUTED (one task per slice of the
    * segment-file list); the bounded WAL tail and v1's single-file
    * snapshot ride along from the driver. The WAL tail's deltas are
    * relative to the snapshot's current segment, so that one file's
    * HeadTime is read driver-side. */
  def rawEntries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val db = open(dir)
    val driverRows = db.driverSegments.flatMap { seg =>
      seg.data.map { d =>
        (seg.headTimeNs + d.deltaNs, db.topicOf(d.topicId), db.ddlOf(d.topicId), d.data)
      }
    }

    val snapshotDf =
      if (db.snapshotFiles.isEmpty) None
      else {
        val topicsB = spark.sparkContext.broadcast(db.topics.toArray)
        val ddlsB = spark.sparkContext.broadcast(db.schemas.toArray)
        // ship the driver's Hadoop conf: executors have no active session,
        // and segment reads must reach the same filesystem (credentials
        // included) the control plane planned against
        val hconf = new org.apache.spark.util.SerializableConfiguration(StoreFs.conf())
        Some(spark.sparkContext
          .parallelize(db.snapshotFiles,
            math.max(1, math.min(db.snapshotFiles.size, 32)))
          .mapPartitions { paths =>
            paths.flatMap { p =>
              val seg = decodeSegment(StoreFs.readBytesWith(p, hconf.value))
              seg.data.iterator.map { d =>
                val tid = d.topicId
                val topic =
                  if (tid >= 0 && tid < topicsB.value.length) topicsB.value(tid)
                  else s"/__unknown_topic_$tid"
                val ddl =
                  if (tid >= 0 && tid < ddlsB.value.length) ddlsB.value(tid)
                  else "binary"
                (seg.headTimeNs + d.deltaNs, topic, ddl, d.data)
              }
            }
          }.toDF("t_ns", "topic", "ddl", "data"))
      }

    val driverDf =
      if (driverRows.isEmpty) None
      else Some(driverRows.toDF("t_ns", "topic", "ddl", "data"))

    (snapshotDf, driverDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        Seq.empty[(Long, String, String, Array[Byte])]
          .toDF("t_ns", "topic", "ddl", "data")
    }
  }

  /** Import a fossil database directory into a ParquetStore: topics are
    * created with their fossil schemas, and entries land typed (bytes
    * decoded through the fossil wire codec) under the store's
    * schema-group/topic-partition layout. Returns
    * (topics created, entries imported, corrupt WAL lines skipped). */
  def importInto(spark: SparkSession, dir: String, store: ParquetStore): (Int, Long, Int) = {
    val db = open(dir)
    db.topics.zip(db.schemas).foreach { case (t, ddl) =>
      if (store.catalog.schemaOf(t).isEmpty) store.createTopic(t, ddl)
    }
    val raw = rawEntries(spark, dir).cache()
    try {
      var total = 0L
      // distinct ddls from the RAW frame, not the catalog: datums with
      // out-of-range topic ids surface as ('/__unknown_topic_N', binary)
      // rows and must LAND (under their synthesized binary topic) rather
      // than silently vanish from the import and its entry count
      val ddls = raw.select("ddl").distinct().collect().map(_.getString(0)).sorted
      ddls.foreach { ddl =>
        val schema = FossilSchema.parse(ddl)
        // synthesized topics (unknown ids) are absent from the catalog and
        // would otherwise auto-create by INHERITANCE (usually "/"'s
        // string), rejecting their binary payloads — create them with the
        // raw frame's own ddl first
        raw.filter(col("ddl") === ddl).select("topic").distinct()
          .collect().map(_.getString(0))
          .filter(t => store.catalog.schemaOf(t).isEmpty)
          .foreach(t => store.createTopic(t, ddl))
        val part = raw.filter(col("ddl") === ddl)
          .select(
            // integral div — `/` on longs promotes to double, which loses
            // precision above 2^53 (epoch nanos are ~1.7e18)
            timestamp_micros(expr("t_ns div 1000")).as("time"),
            col("topic"),
            FossilDecode(ddl, col("data")).as("value"))
        store.append(part, schema)
        total += part.count()
      }
      (db.topics.length, total, db.walSkipped)
    } finally { raw.unpersist(); () }
  }
}

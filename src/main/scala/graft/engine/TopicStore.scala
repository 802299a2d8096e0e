package graft.engine

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import FossilSchema._

/** Entry source abstraction: something that can produce the canonical
  * entries DataFrame `(time TIMESTAMP, topic STRING, value T)` for a topic
  * prefix. The analog of fossil's `Database.Retrieve`
  * (`pkg/database/db.go:554-649`) — but scan pruning is Parquet row-group
  * stats + partition pruning instead of segment binary search.
  */
trait TopicStore {
  def catalog: Catalog
  /** Typed entries for all topics under `prefix` ("/" = everything). */
  def entries(prefix: String): DataFrame
}

/** Typed append-time rejection: the payload (bytes or schema) does not
  * conform to the topic's catalog schema — the analog of the reference's
  * schema-on-append error (`pkg/database/db.go:489-495`). */
final class SchemaViolationException(message: String)
    extends IllegalArgumentException(message)

/** In-memory view over an existing DataFrame — the embedded "local client"
  * path (`api/local.go:17-91` analog) and the adapter for querying arbitrary
  * tables (e.g. the events table) through FQL. */
final class ViewStore(df: DataFrame, val catalog: Catalog) extends TopicStore {
  def entries(prefix: String): DataFrame = df
}

/** Parquet-backed persistent store.
  *
  * Layout: `root/data/sgroup=<schema-hash>/topic=<escaped>/part-*.parquet`
  * — one directory tree per distinct schema (so each subtree has a uniform
  * Parquet value type), topic as a partition column (partition pruning for
  * prefix scans), rows time-sorted within files (row-group min/max stats
  * give time-range pruning, replacing fossil's segment `HeadTime` pruning +
  * binary search, `pkg/database/segment.go:45-85`).
  *
  * The topic registry persists as a JSON sidecar `root/catalog.json`
  * (analog of fossil's serialized topic/schema tables,
  * `pkg/database/db.go:243-410`), rewritten only when an append or CREATE
  * registers a topic, and always before that topic's data lands.
  *
  * Data lands on one of two paths, picked by the input type:
  *   - rows already on the driver (`Seq[Row]`: single APPENDs, wire-import
  *     pages) are written in-process by Spark's own Parquet writer, one
  *     file per topic, with no Spark job ([[DriverLanding]]);
  *   - a `DataFrame` (bulk and streaming ingest) is written by a Spark job
  *     through Spark's file commit protocol.
  * Both commit by rename: a file is written under a hidden name (a
  * dot-prefixed temp file here, Spark's `_temporary` directory there) and
  * renamed into its `topic=` directory, so a reader sees whole files only.
  * Files are closed without fsync on both paths; this replaces the
  * reference WAL (`pkg/database/log.go`).
  */
final class ParquetStore(spark: SparkSession, root: String) extends TopicStore {
  // open = version check + migration chain BEFORE anything reads the
  // layout (see StoreMigration; reference pkg/database/migration.go:30-43)
  val catalog: Catalog = ParquetStore.openCatalog(root)

  private def groupDir(s: SType): String =
    s"$root/data/sgroup=${ParquetStore.schemaKey(s)}"

  // Mutating ops are synchronized on the store: the catalog map itself is
  // concurrent, but createTopic/append both mutate-then-persist, and two
  // interleaved persists could write catalog.json from half-updated views.
  // Queries (entries) stay lock-free. Multi-connection front-ends must
  // share ONE ParquetStore per root (see WireServer) — two instances over
  // the same root would still clobber each other's sidecar.
  def createTopic(path: String, ddl: String): Unit = synchronized {
    catalog.createDdl(path, ddl)
    persistCatalog()
  }

  /** Batch append of rows already on the driver: `(time, topic, value)`
    * external values typed by `schema`, e.g. a `java.sql.Timestamp`, a
    * `String` and a `Double`. Auto-creates topics (inheritance rules
    * apply). Lands through [[DriverLanding]]: no Spark job, one file per
    * topic, values cast to the topic's catalog schema (see the
    * `DataFrame` overload for why). A value that fails to convert or cast,
    * or a failed write, leaves no file and registers no topic. */
  def append(rows: Seq[Row], schema: SType): Unit = synchronized {
    val maxTopics = ParquetStore.maxTopicsPerAppend
    val targets = targetsOf(
      rows.iterator.map(_.getString(1)).distinct.take(maxTopics + 1).toSeq, schema)
    val staged = DriverLanding.stage(spark,
      DriverLanding.prepare(spark, rows, schema, targets), groupDir)
    try register(targets.keys.toSeq)
    catch { case e: Throwable => DriverLanding.discard(staged); throw e }
    DriverLanding.publish(staged)
  }

  /** Batch append of a distributed frame: rows `(time TIMESTAMP, topic
    * STRING, value T)` sharing one append-side schema, written by a Spark
    * job through Spark's commit protocol. Auto-creates topics (inheritance
    * rules apply).
    *
    * Data ALWAYS lands under each topic's CATALOG schema group (values cast
    * to the topic schema) — never the append-call schema's group: `entries`
    * resolves directories from the catalog, so writing a compatible-but-
    * different width (e.g. int32 rows into an int64 topic) under its own
    * group would make the rows silently invisible to every query. */
  def append(rows: DataFrame, schema: SType): Unit = synchronized {
    // the distinct-topic list is a driver collect bounded ONLY by topic
    // cardinality — safe for the store's design envelope (topics are a
    // catalog-sized namespace, not a data-sized one) but guarded so a
    // mis-keyed append (e.g. a per-row unique "topic") fails loudly
    // instead of OOMing the driver. limit(max+1) keeps the job itself
    // bounded: Spark stops scanning once max+1 distinct values are found.
    val maxTopics = ParquetStore.maxTopicsPerAppend
    // cached: the source feeds the distinct-topic collect AND one filtered
    // write per target schema group — without it a distributed ingest frame
    // is fully recomputed per consumer
    val cached = rows.select(col("time"), col("topic"), col("value")).cache()
    try {
      val topicSchema = targetsOf(
        cached.select("topic").distinct().limit(maxTopics + 1)
          .collect().map(_.getString(0)).toSeq, schema)
      register(topicSchema.keys.toSeq)
      topicSchema.values.toSeq.distinct.foreach { target =>
        val forGroup = topicSchema.collect { case (t, s) if s == target => t }.toSeq
        cached.filter(col("topic").isInCollection(forGroup))
          .select(col("time"), col("topic"), col("value").cast(target.sparkType).as("value"))
          .sortWithinPartitions("topic", "time")
          .write.mode(SaveMode.Append)
          .partitionBy("topic")
          .parquet(groupDir(target))
      }
    } finally cached.unpersist()
  }

  /** Each appended topic's catalog schema (the one [[Catalog.ensure]]
    * would assign), after the distinct-topic cap and the lossless-fit
    * check. EVERY topic is validated BEFORE any is registered: a rejected
    * append must not leave phantom auto-created topics in the catalog (they
    * would persist on the next successful write and permanently block
    * creating the intended schema). */
  private def targetsOf(topics: Seq[String], schema: SType): Map[String, SType] = {
    val maxTopics = ParquetStore.maxTopicsPerAppend
    if (topics.length > maxTopics)
      throw new IllegalArgumentException(
        s"append spans more than $maxTopics distinct topics — topic looks " +
          "data-keyed, not namespace-keyed (cap: graft.store.maxTopicsPerAppend)")
    topics.map { t =>
      val target = catalog.effective(t)
      // appends must fit LOSSLESSLY (FossilSchema.fits): `combine` ranks
      // same-width signed/unsigned equal and would admit casts that throw
      // under ANSI or change values — the reference rejects bytes that
      // don't validate against the topic schema.
      if (!FossilSchema.fits(schema, target))
        throw new IllegalArgumentException(
          s"append schema ${schema.ddl} does not fit topic $t schema ${target.ddl}")
      t -> target
    }.toMap
  }

  /** Register the topics the catalog does not know yet and persist the
    * sidecar before their data lands; an append to known topics leaves
    * `catalog.json` untouched. */
  private def register(topics: Seq[String]): Unit = {
    val fresh = topics.filter(catalog.schemaOf(_).isEmpty)
    if (fresh.nonEmpty) {
      fresh.foreach(catalog.ensure)
      persistCatalog()
    }
  }

  /** Entries of EXACTLY one topic, typed by that topic's OWN schema — no
    * prefix semantics, no cross-schema combine (a `/` query over mixed
    * schemas is deliberately Ambiguous; per-topic tooling like the fossil
    * exporter needs the typed view regardless of sibling schemas).
    * Empty frame with the topic's schema when nothing has landed. */
  def topicEntries(topic: String): DataFrame = {
    val t = catalog.normalize(topic)
    val schema = catalog.schemaOf(t).getOrElse(
      throw new IllegalArgumentException(s"unknown topic $t"))
    val d = groupDir(schema)
    if (!StoreFs.exists(d))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ParquetStore.entrySchema(schema.sparkType))
    else readGroup(schema, d)
      .filter(col("topic") === t) // partition-column prune
      .select(col("time"), col("topic").cast(StringType).as("topic"), col("value"))
  }

  def entries(prefix: String): DataFrame = {
    val wanted = catalog.topicsUnder(prefix)
    val schemas = wanted.flatMap(catalog.schemaOf).distinct
    val groups = schemas.map(s => (s, groupDir(s))).filter { case (_, d) =>
      StoreFs.exists(d)
    }
    if (groups.isEmpty) {
      val combined = catalog.combinedSchema(prefix) match {
        case SUnknown | SAmbiguous => FossilSchema.default
        case s => s
      }
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ParquetStore.entrySchema(combined.sparkType))
    }
    val combined = FossilSchema.combineAll(groups.map(_._1))
    val target: DataType = combined match {
      case SAmbiguous => BinaryType // untyped fallback view
      case s => s.sparkType
    }
    groups.map { case (s, dir) =>
      val df = readGroup(s, dir)
      val v = combined match {
        case SAmbiguous => lit(null).cast(BinaryType).as("value") // opaque
        // sameType = equal modulo nullability: parquet reads arrays back
        // with nullable elements, and ANSI cast refuses array<double> →
        // array<double> across that nullability gap — don't cast what
        // already matches
        case _ if ParquetStore.sameModuloNullability(df.schema("value").dataType, target) =>
          col("value").as("value")
        case _ => col("value").cast(target).as("value")
      }
      df.select(col("time"), col("topic").cast(StringType).as("topic"), v)
    }.reduce(_ unionByName _)
      // a schema group can host topics OUTSIDE the prefix — enforce the
      // trait contract here (an IN-list on the partition column, so it
      // prunes at the file index rather than filtering rows)
      .filter(col("topic").isInCollection(wanted))
  }

  /** One schema group's files, read with the catalog's schema: the group
    * directory is keyed by that schema and every file in it was written
    * with it, so Spark needs no footer-inference job to find it. */
  private def readGroup(s: SType, dir: String): DataFrame =
    spark.read.schema(ParquetStore.entrySchema(s.sparkType)).parquet(dir)

  /** Maintenance: rewrite every schema group's accumulated small append
    * files (each [[append]] / streaming micro-batch lands at least one file
    * per topic — the classic small-files problem of an append-only store)
    * into one time-sorted file per topic.
    *
    * Besides the file-count win, compaction RESTORES the scan properties
    * the store's pruning relies on: fully time-sorted files mean Parquet
    * row-group min/max stats partition the time axis cleanly again, where
    * interleaved appends leave overlapping ranges that defeat row-group
    * pruning.
    *
    * Swap protocol: the compacted tree is written to a dot-prefixed temp
    * dir (invisible to Spark scans), then two atomic directory renames swap
    * it in (old tree → trash, temp → live) and the trash is deleted only
    * after the swap completes — a crash mid-compact leaves either the old
    * tree live or a recoverable trash dir, never data loss. The brief
    * window between the renames can make a CONCURRENT reader of this store
    * see the group as empty, so compact during a quiesced period (mutating
    * ops are excluded by the store lock; readers are not). Rename contract
    * per scheme: see [[StoreFs]] — atomic on HDFS/local, an O(files) copy
    * on S3A (compact object-store roots only in a quiesced window).
    * Returns (group, files before, files after) per schema group. */
  def compact(): Seq[(String, Long, Long)] = synchronized {
    val dataDir = s"$root/data"
    if (!StoreFs.exists(dataDir)) return Seq.empty
    val groups = StoreFs.listStatus(dataDir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("sgroup="))
    groups.map { g =>
      val gName = g.getPath.getName
      val gDir = g.getPath.toString
      def countFiles(p: String): Long =
        StoreFs.countFilesRecursive(p)(_.getPath.getName.endsWith(".parquet"))
      val before = countFiles(gDir)
      val tmp = s"$root/data/.compact_tmp_$gName"
      spark.read.parquet(gDir)
        .repartition(col("topic")) // one task (→ one file) per topic
        .sortWithinPartitions("topic", "time")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("topic")
        .parquet(tmp)
      val trash = s"$root/.trash_compact_${gName}_${System.nanoTime()}"
      StoreFs.rename(gDir, trash)
      StoreFs.rename(tmp, gDir)
      StoreFs.deleteRecursive(trash)
      (gName, before, countFiles(gDir))
    }
  }

  /** Number of live Parquet data files — the store's segment-count analog
    * (the reference gauge `fossil_database_segments` counts WAL segments,
    * `pkg/server/dbmetrics.go:73-77`; here a "segment" is one immutable
    * columnar file, the unit [[compact]] consolidates). Pure filesystem
    * walk, no Spark job. Synchronized on the store so the lazy walk never
    * races this store's own append/compact renames (a path enumerated
    * then deleted mid-walk throws from the stream and would fail the
    * whole metrics scrape — the scrape briefly waiting on the store lock
    * beats a failed scrape); dot- and underscore-prefixed components
    * (mid-compact temp trees, landing temp files, Spark `_temporary`
    * staging) are skipped the same way Spark scans skip them. */
  def segmentCount: Long = {
    val dataDir = s"$root/data"
    if (!StoreFs.exists(dataDir)) return 0L
    segmentCountOrDegrade(() => walkSegmentCount(dataDir))
  }

  // last successful walk result, served when a walk degrades (below) so a
  // transient filesystem race reads as "stale gauge", not a false drop to
  // 0 segments that trips alerting (round-8 ADVICE)
  private var lastGoodSegmentCount = 0L

  /** Run `walk`, remembering its result; on a mid-walk I/O failure serve
    * the LAST SUCCESSFUL count instead. Non-store writers (external
    * cleanup, operator rm) can yank paths mid-walk, and a gauge read must
    * degrade, not throw through the scrape — but before this seam it
    * degraded to 0, indistinguishable from a genuinely empty store. */
  private[engine] def segmentCountOrDegrade(walk: () => Long): Long =
    synchronized {
      try {
        val n = walk()
        lastGoodSegmentCount = n
        n
      } catch {
        case _: java.io.UncheckedIOException | _: java.io.IOException =>
          lastGoodSegmentCount
      }
    }

  private def walkSegmentCount(dataDir: String): Long =
    StoreFs.countFilesRecursive(dataDir)(_.getPath.getName.endsWith(".parquet"))

  private def persistCatalog(): Unit = ParquetStore.saveCatalog(root, catalog)
}

object ParquetStore {
  /** Cap on distinct topics per append call (see [[ParquetStore.append]]);
    * JVM-wide, overridable for tests via the system property. */
  def maxTopicsPerAppend: Int =
    sys.props.get("graft.store.maxTopicsPerAppend").map(_.toInt).getOrElse(100000)

  /** The canonical entries schema `(time, topic, value)`. */
  private[engine] def entrySchema(value: DataType): StructType = StructType(Seq(
    StructField("time", TimestampType), StructField("topic", StringType),
    StructField("value", value)))

  /** Type equality ignoring nullability flags (Spark's own sameType is
    * private[sql]). */
  private[engine] def sameModuloNullability(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(e1, _), ArrayType(e2, _)) => sameModuloNullability(e1, e2)
    case (StructType(f1), StructType(f2)) =>
      f1.length == f2.length && f1.zip(f2).forall { case (x, y) =>
        x.name == y.name && sameModuloNullability(x.dataType, y.dataType)
      }
    case _ => a == b
  }

  def schemaKey(s: SType): String = {
    val ddl = s.ddl
    // filesystem-safe stable key
    java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(ddl)) +
      "_" + ddl.replaceAll("[^A-Za-z0-9]", "").take(24)
  }

  def saveCatalog(root: String, catalog: Catalog): Unit = {
    StoreFs.mkdirs(root)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json =
      (s"""  "${StoreMigration.VersionKey}": "${StoreMigration.CurrentVersion}"""" +:
        catalog.list.map { case (t, s) => s"""  "${esc(t)}": "${esc(s.ddl)}"""" })
        .mkString("{\n", ",\n", "\n}")
    // temp write + atomic overwrite-rename, scheme-agnostic (StoreFs doc)
    StoreFs.writeAtomic(s"$root/catalog.json", json.getBytes(StandardCharsets.UTF_8))
  }

  /** Raw sidecar read: `(catalog, declared format version)`. Stores written
    * before versioning existed carry no version key → version 1. */
  def loadCatalog(root: String): (Catalog, Int) = {
    val c = new Catalog
    var version = 1
    val p = s"$root/catalog.json"
    if (StoreFs.exists(p)) {
      val json = new String(StoreFs.readBytes(p), StandardCharsets.UTF_8)
      // minimal parser for the flat {"topic": "ddl", ...} shape we write
      val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      entry.findAllMatchIn(json).foreach { m =>
        def un(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
        if (un(m.group(1)) == StoreMigration.VersionKey)
          version = un(m.group(2)).trim.toInt
        else
          // restore verbatim — replaying create() would re-run inheritance/
          // conflict logic in sorted order, which can reject or silently
          // rewrite schemas that were legal in their original creation order
          c.restore(un(m.group(1)), FossilSchema.parse(un(m.group(2))))
      }
    }
    (c, version)
  }

  /** Open a store root with the version gate: refuse a NEWER format with a
    * named error, auto-upgrade an OLDER one through [[StoreMigration]]. */
  def openCatalog(root: String): Catalog = {
    val (c, version) = loadCatalog(root)
    if (StoreFs.exists(s"$root/catalog.json"))
      StoreMigration.migrate(root, c, version)
    c
  }
}

/** On-disk format versioning + the migration chain — the analog of the
  * reference's versioned migration function table
  * (`pkg/database/migration.go:30-43`: deserialize at the found version,
  * apply each migrate step, clean up), re-expressed for the Parquet store:
  * the version lives in the `catalog.json` sidecar, each chain step
  * upgrades exactly one version on disk, and opening a store stamps the
  * result — so the FIRST layout change ParquetStore ever ships gets a
  * working upgrade path instead of silently breaking existing roots.
  *
  * History:
  *   v1 — pre-versioning sidecar (no version key).
  *   v2 — versioned sidecar; data layout unchanged (the stamp itself is
  *        the upgrade, establishing the chain mechanism).
  */
object StoreMigration {
  /** Reserved sidecar key — rejected as a topic name by Catalog paths
    * (topics are `/`-rooted), so it can never collide with user data. */
  val VersionKey = "__format_version"
  val CurrentVersion = 2

  /** version → step upgrading a root FROM that version to version+1.
    * Steps receive the root and the already-parsed catalog; they mutate
    * the on-disk layout only (the caller persists the stamped sidecar). */
  private val steps: Map[Int, (String, Catalog) => Unit] = Map(
    1 -> ((_, _) => ()) // v1→v2: sidecar gains the version key; no data change
  )

  /** Gate + chain: newer-than-supported refuses with both versions named
    * (the reference's "database version newer than this binary" behavior);
    * older runs every step in order and persists the upgraded sidecar. */
  def migrate(root: String, catalog: Catalog, found: Int): Unit =
    migrateChain(root, catalog, found, CurrentVersion, steps)(
      ParquetStore.saveCatalog(root, catalog))

  /** The chain mechanics, parameterized so multi-step chains are testable
    * before a second real step ever ships (StoreSpec drives a synthetic
    * 3-version chain through this seam). `persist` runs once after a
    * successful chain — never on the refuse path. */
  private[engine] def migrateChain(
      root: String, catalog: Catalog, found: Int, current: Int,
      chain: Map[Int, (String, Catalog) => Unit])(persist: => Unit): Unit = {
    if (found > current)
      throw new IllegalStateException(
        s"store at $root has format version $found, newer than the " +
          s"supported version $current — upgrade the library to open it")
    if (found < current) {
      (found until current).foreach { v =>
        chain.getOrElse(v, throw new IllegalStateException(
          s"no migration step from store format version $v (root: $root)"))
          .apply(root, catalog)
      }
      // persist the stamp so the chain runs once, not on every open
      persist
    }
  }
}

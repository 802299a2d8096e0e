package graft.connector

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.{Catalog, FossilSchema, Json, ParquetStore, StoreFs, StoreIndex, StoreMigration, TopicFiles}
import graft.engine.FossilSchema.{SType, SUnknown}

/** `spark.read.format("fossil")` — the engine's front door for plain Spark
  * users: a DataSource V2 READ connector over a ParquetStore root, so every
  * external Spark tool (SQL catalogs, other pipelines, notebooks) composes
  * with a fossil store through the idiomatic surface instead of the
  * library API ([[graft.api.LocalClient]] / [[graft.engine.ParquetStore]]).
  *
  *   spark.read.format("fossil").load(root)                  // whole store
  *   spark.read.format("fossil").option("prefix", "/events") // topic prefix
  *
  * Returns the canonical entry frame `(time TIMESTAMP, topic STRING,
  * value T)` — the same shape and COMBINED value typing as
  * `ParquetStore.entries` (schema groups are widened to the catalog's
  * combined type; a mixed-scalar store reads as null binary, exactly like
  * the library path).
  *
  * Store files are listed by the store's own file index
  * ([[graft.engine.StoreIndex]], the one `ParquetStore.entries` lists
  * through) and read by Spark's own Parquet reader, one reader per schema
  * group ([[FossilReaderFactory]]); the connector adds only what Spark's
  * file source does not know about a store root:
  *   - topic equality / IN / prefix filters prune PARTITION DIRECTORIES at
  *     planning time (no file of a filtered-out topic is even listed);
  *   - pushed time bounds prune whole FILES at planning time: a file whose
  *     footer time range misses them is not read, and a file without a
  *     usable range (INT96 or millisecond time) always is;
  *   - the topic comes from the `topic=` directory, and each schema group's
  *     value is widened to the combined type by the same rule `entries`
  *     uses.
  * Spark's reader then prunes columns (a `select(value)` never decodes
  * time) and, where the file's time column is INT64, row groups by the
  * pushed time bounds (the store writes time-sorted files so min/max stats
  * partition the time axis; INT96 has no usable stats). Every pushed
  * filter is ALSO returned as a residual — Spark re-evaluates the exact
  * predicate, so pruning is never a correctness input.
  *
  * Reads are DSv2-only by design: writes go through the library/client
  * (`LocalClient.append`, streaming ingest) because the store has a
  * single-writer contract per root (catalog sidecar persistence) that a
  * distributed DSv2 writer would violate. The connector likewise opens the
  * catalog READ-ONLY: a newer on-disk format version refuses by name, an
  * older one is readable in place (no migration stamp is written — opening
  * a store for reading must not mutate it).
  *
  * Scale: planning lists only the partition directories of surviving
  * topics; files bigger than `spark.sql.files.maxPartitionBytes` split
  * into byte-range row-group partitions exactly like Spark's native file
  * splits, so a single hot topic parallelizes across a cluster. */
final class FossilDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "fossil"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FossilDataSource.resolve(options.asCaseSensitiveMap().asScala.toMap).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    FossilDataSource.resolve(properties.asScala.toMap)
}

private[connector] object FossilDataSource {

  /** Options → opened (read-only) table. Layout is AUTO-DETECTED: a
    * ParquetStore root (catalog.json) or a NATIVE fossil v2/v1 database
    * directory (metadata / single-file `database`) — one front door for
    * both the engine's own storage and the migration-source deployments
    * [[graft.sources.FossilDatabase]] decodes. */
  def resolve(options: Map[String, String]): FossilTableBase = {
    val ci = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val root = ci.get("path").orElse(singlePathOf(ci.get("paths"))).getOrElse(
      throw new IllegalArgumentException(
        "fossil source needs a store root: spark.read.format(\"fossil\").load(root)"))
    val prefix = ci.getOrElse("prefix", "/")
    if (StoreFs.exists(s"$root/metadata") || StoreFs.exists(s"$root/database"))
      new FossilNativeTable(root, prefix)
    else if (StoreFs.exists(s"$root/catalog.json")) {
      val (catalog, version) = ParquetStore.loadCatalog(root)
      if (version > StoreMigration.CurrentVersion)
        throw new IllegalStateException(
          s"store at $root has format version $version, newer than the " +
            s"supported version ${StoreMigration.CurrentVersion} — upgrade the library")
      new FossilTable(root, prefix, catalog)
    } else throw new IllegalArgumentException(
      s"$root is neither a fossil store root (no catalog.json) nor a " +
        "native fossil database (no metadata / database file)")
  }

  /** `load(a, b)` arrives as a JSON array under "paths" — one root only
    * (a fossil table IS one store; union two stores in the query). */
  private def singlePathOf(pathsJson: Option[String]): Option[String] =
    pathsJson.map { js =>
      val items = Json.stringArray(js, "fossil source paths option")
      items match {
        case Vector(one) => one
        case _ => throw new IllegalArgumentException(
          s"fossil source reads exactly one store root, got ${items.length} paths")
      }
    }
}

/** What the shared [[FossilScanBuilder]] needs from either layout's table:
  * the combined value typing, the prefix's topic list for directory/datum
  * pruning, and a layout-specific scan factory. */
trait FossilTableBase extends Table with SupportsRead {
  def root: String
  def prefix: String
  def combined: SType
  /** Topics under the prefix (candidate set the pushed topic filters cut). */
  def prefixTopics: Seq[String]
  /** Layout-specific scan over the surviving topics. */
  def makeScan(wanted: Seq[String], pruned: StructType,
      loUs: Option[Long], hiUs: Option[Long], pushed: Array[Filter]): Scan

  override def schema(): StructType = StructType(Seq(
    StructField("time", TimestampType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("value", combined.sparkType, nullable = true)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FossilScanBuilder(this)
}

final class FossilTable(
    val root: String, val prefix: String, val catalog: Catalog)
  extends FossilTableBase {

  /** The store layout also streams (`spark.readStream.format("fossil")`):
    * an append-only file tree IS a replayable log — see
    * [[FossilMicroBatchStream]]. The native layout stays batch-only (a
    * frozen migration-source snapshot has no append stream to tail). */
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  /** Combined fossil schema over every catalog topic under the prefix —
    * CATALOG-derived (deterministic from the sidecar alone, independent of
    * which topics hold data yet), where the library's `entries` combines
    * the on-disk groups; identical whenever every topic has landed data. */
  val combined: SType = catalog.combinedSchema(prefix) match {
    case SUnknown => FossilSchema.default
    case s => s
  }

  override def name(): String = s"fossil:$root[$prefix]"

  override def prefixTopics: Seq[String] = catalog.topicsUnder(prefix)

  /** STATS-class metadata for SQL users (`DESCRIBE EXTENDED`, `SHOW
    * TBLPROPERTIES`) — the visibility wire clients get from the STATS
    * command — from a fresh listing on every call: appends to known
    * topics leave `catalog.json` alone, so a table handle outlives them
    * (see `FossilCatalog`). Row counts are footer counts. */
  override def properties(): java.util.Map[String, String] = {
    val files = listFiles(prefixTopics).flatMap(_.files)
    val m = new java.util.HashMap[String, String]()
    m.put("topics", prefixTopics.size.toString)
    m.put("combined_schema", combined.ddl)
    m.put("num_files", files.size.toString)
    m.put("size_bytes", files.map(_.length).sum.toString)
    m.put("num_rows", files.map(_.rows).sum.toString)
    m
  }

  /** This table's handle on the store's file index (its footer facts are
    * JVM-wide, its counters its own). */
  private[connector] val index = new StoreIndex

  /** The listed files of `topics`, topic by topic, in the order of
    * [[groupsOf]]. */
  def listFiles(topics: Seq[String]): Seq[TopicFiles] =
    index.listGroups(root, catalog, topics).flatMap(_._2)

  /** The distinct schema groups of `topics`, in the order the scan indexes
    * them (and lists their files). */
  def groupsOf(topics: Seq[String]): Seq[SType] =
    topics.flatMap(catalog.schemaOf).distinct

  override def makeScan(wanted: Seq[String], pruned: StructType,
      loUs: Option[Long], hiUs: Option[Long], pushed: Array[Filter]): Scan =
    new FossilScan(this, wanted, pruned, loUs, hiUs, pushed)
}

final class FossilScanBuilder(table: FossilTableBase)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pruned: StructType = table.schema()
  private var accepted: Array[Filter] = Array.empty

  // conjunct state (all pushed filters AND together)
  private var loUs: Option[Long] = None
  private var hiUs: Option[Long] = None
  private var topicAllow: Option[Set[String]] = None
  private var topicPrefixes: List[String] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val acc = List.newBuilder[Filter]
    filters.foreach {
      case f @ GreaterThanOrEqual("time", v) => tsUs(v).foreach { us =>
        loUs = Some(loUs.fold(us)(math.max(_, us))); acc += f }
      case f @ GreaterThan("time", v) => tsUs(v).foreach { us =>
        val lo = if (us == Long.MaxValue) us else us + 1
        loUs = Some(loUs.fold(lo)(math.max(_, lo))); acc += f }
      case f @ LessThanOrEqual("time", v) => tsUs(v).foreach { us =>
        hiUs = Some(hiUs.fold(us)(math.min(_, us))); acc += f }
      case f @ LessThan("time", v) => tsUs(v).foreach { us =>
        val hi = if (us == Long.MinValue) us else us - 1
        hiUs = Some(hiUs.fold(hi)(math.min(_, hi))); acc += f }
      case f @ EqualTo("time", v) => tsUs(v).foreach { us =>
        loUs = Some(loUs.fold(us)(math.max(_, us)))
        hiUs = Some(hiUs.fold(us)(math.min(_, us))); acc += f }
      case f @ EqualTo("topic", s: String) =>
        topicAllow = Some(topicAllow.fold(Set(s))(_.intersect(Set(s)))); acc += f
      case f @ In("topic", vs) if vs.forall(_.isInstanceOf[String]) =>
        val set = vs.map(_.asInstanceOf[String]).toSet
        topicAllow = Some(topicAllow.fold(set)(_.intersect(set))); acc += f
      case f @ StringStartsWith("topic", p) =>
        topicPrefixes ::= p; acc += f
      case f @ IsNotNull("time" | "topic") => acc += f // store never writes nulls
      case _ => () // residual-only
    }
    accepted = acc.result().toArray
    // EVERYTHING stays residual: pruning here is conservative (row-group
    // stats, directory listing); Spark re-evaluates the exact predicates
    filters
  }

  override def pushedFilters(): Array[Filter] = accepted

  /** v1 Filter timestamp literal → µs (both java.time and java.sql forms
    * appear, depending on spark.sql.datetime.java8API.enabled). */
  private def tsUs(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(Math.addExact(Math.multiplyExact(t.getTime, 1000L),
        (t.getNanos / 1000L) % 1000L))
    case i: java.time.Instant =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong))
    case _ => None
  }

  override def build(): Scan = {
    val wanted = table.prefixTopics.filter { t =>
      topicAllow.forall(_.contains(t)) && topicPrefixes.forall(t.startsWith)
    }
    table.makeScan(wanted, pruned, loUs, hiUs, accepted)
  }
}

final class FossilScan(
    table: FossilTable,
    wantedTopics: Seq[String],
    pruned: StructType,
    loUs: Option[Long],
    hiUs: Option[Long],
    pushed: Array[Filter])
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = pruned

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FossilMicroBatchStream(table, wantedTopics, pruned, loUs, hiUs)

  override def description(): String =
    s"FossilScan root=${table.root}, prefix=${table.prefix}, " +
      s"topics=${wantedTopics.size}, files=${count(plannedFiles)}/${count(listedFiles)}, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${pruned.simpleString}"

  /** Planning-time listing through the store's file index: only surviving
    * topics' partition directories are walked, and a file whose footer
    * time range misses the pushed bounds is dropped (a file with an
    * unknown range is kept), the rule `ParquetStore.entries` applies. The
    * description shows planned/listed files. */
  private lazy val listedFiles: Seq[TopicFiles] = table.listFiles(wantedTopics)
  private lazy val plannedFiles: Seq[TopicFiles] = {
    val (lo, hi) = (loUs.getOrElse(Long.MinValue), hiUs.getOrElse(Long.MaxValue))
    listedFiles.map(t => t.copy(files = t.files.filter(_.mayOverlap(lo, hi))))
  }
  private def count(topics: Seq[TopicFiles]): Int = topics.map(_.files.size).sum

  /** Files split by `spark.sql.files.maxPartitionBytes` byte ranges — row
    * groups resolve to the range holding their midpoint. */
  override def planInputPartitions(): Array[InputPartition] =
    FossilScan.split(table, wantedTopics, FossilScan.dataFiles(plannedFiles),
      FossilScan.maxPartitionBytes()).toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    FossilReaderFactory(SparkSession.active, table.groupsOf(wantedTopics),
      table.combined, pruned, loUs, hiUs)

  /** Size and footer row counts of the files the scan reads — SQL users
    * get the row visibility wire STATS clients have. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val files = plannedFiles.flatMap(_.files)
    override def sizeInBytes(): OptionalLong = OptionalLong.of(files.map(_.length).sum)
    override def numRows(): OptionalLong = OptionalLong.of(files.map(_.rows).sum)
  }
}

private[connector] object FossilScan {

  /** One data file of a scan or a stream offset: absolute path, final
    * length (parquet files are immutable once landed), owning topic (from
    * the partition dir). */
  final case class DataFile(path: String, length: Long, topic: String)

  /** The files of `topics` as [[DataFile]]s, in listing order. */
  def dataFiles(topics: Seq[TopicFiles]): Seq[DataFile] =
    for (t <- topics; f <- t.files) yield DataFile(f.path.toString, f.length, t.topic)

  /** Byte-range splitting of `files` of `table`'s `wantedTopics`, shared by
    * the batch scan and the micro-batch stream; each split is tagged with
    * its file's schema group, indexed as in [[FossilTable.groupsOf]]. */
  def split(table: FossilTable, wantedTopics: Seq[String], files: Seq[DataFile],
      maxBytes: Long): Array[FossilInputPartition] = {
    val groupIndex = table.groupsOf(wantedTopics).zipWithIndex.toMap
    val wanted = wantedTopics.toSet
    val out = Array.newBuilder[FossilInputPartition]
    // a checkpoint written under other topic filters can name files of
    // topics this scan does not read; their rows are not its rows
    files.filter(f => wanted.contains(f.topic)).foreach { f =>
      val group = groupIndex(table.catalog.schemaOf(f.topic).get)
      val topic = InternalRow(UTF8String.fromString(f.topic))
      var off = 0L
      while (off < f.length) {
        val chunk = math.min(maxBytes, f.length - off)
        out += FossilInputPartition(group, PartitionedFile(topic,
          SparkPath.fromPathString(f.path), off, chunk, fileSize = f.length))
        off += chunk
      }
    }
    out.result()
  }

  /** Split size from the active session (planning runs on the driver);
    * falls back to Spark's 128 MB default ONLY when no session is active —
    * a malformed conf value must fail by name, not silently default. */
  def maxPartitionBytes(): Long = {
    val session =
      try Some(SparkSession.active)
      catch { case _: IllegalStateException => None } // no active session
    session.fold(128L * 1024 * 1024) { s =>
      val v = s.conf.get("spark.sql.files.maxPartitionBytes")
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
    }
  }
}

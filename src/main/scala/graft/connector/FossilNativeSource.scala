package graft.connector

import java.util.OptionalLong

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.{Catalog, Codec, FossilSchema, StoreFs}
import graft.engine.FossilSchema.{SAmbiguous, SArray, SType, SUnknown, Scalar}
import graft.sources.FossilDatabase

/** `spark.read.format("fossil")` over a NATIVE fossil database directory
  * (gob/zlib v2 layout, or the v1 single-file snapshot) — the stretch half
  * of the r16 verdict's connector item: a user can point plain Spark at a
  * live deployment's data directory and get the same canonical typed entry
  * frame the ParquetStore path serves, without importing first.
  *
  * Planning opens only the CONTROL PLANE ([[FossilDatabase.open]]:
  * metadata ints, the catalog-sized topic/schema tables, the bounded WAL
  * tail); segment CONTENT decodes on executors, one gob segment file per
  * input partition — the same distribution [[FossilDatabase.rawEntries]]
  * uses, re-expressed as a DSv2 batch so pushdown and column pruning
  * apply:
  *   - topic filters cut datums before any value decode (and a topic
  *     filter that empties a partition costs one segment decode, never a
  *     value decode — segments interleave topics, so FILE-level topic
  *     pruning does not exist in this layout by design);
  *   - time bounds cut datums by `headTime + delta` before value decode;
  *   - value decode is skipped entirely unless the `value` column is read.
  * Every pushed filter stays residual, so reader-side cuts are never a
  * correctness input.
  *
  * Values decode per-topic through the shared wire codec
  * ([[graft.engine.Codec]] — the same bytes→typed path the import and the
  * FQL layer use) and widen to the prefix's COMBINED schema, mirroring
  * `ParquetStore.entries`; a mixed-scalar prefix reads as null binary.
  * Time is epoch-nanos truncated to µs (`t_ns div 1000`), matching the
  * import battery row's convention. */
final class FossilNativeTable(val root: String, val prefix: String)
  extends FossilTableBase {

  /** Control-plane open — bounded driver work (see class doc). */
  val db: FossilDatabase.Db = FossilDatabase.open(root)

  /** Topic registry rebuilt VERBATIM (restore, not create — creation-order
    * inheritance must not reinterpret a foreign catalog). */
  val catalog: Catalog = {
    val c = new Catalog
    db.topics.indices.foreach { i =>
      c.restore(FossilDatabase.normalizeTopicName(db.topics(i)),
        FossilSchema.parse(db.ddlOf(i)))
    }
    c
  }

  val combined: SType = catalog.combinedSchema(prefix) match {
    case SUnknown => FossilSchema.default
    case s => s
  }
  val opaqueValue: Boolean = combined == SAmbiguous

  override def name(): String = s"fossil-native:$root[$prefix]"

  override def prefixTopics: Seq[String] = catalog.topicsUnder(prefix)

  /** STATS-class metadata (`DESCRIBE EXTENDED`) from the already-decoded
    * control plane — metadata ints only, no segment content reads. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("topics", prefixTopics.size.toString)
    m.put("combined_schema", combined.ddl)
    m.put("format_version", db.version.toString)
    m.put("segments", db.snapshotFiles.size.toString)
    m.put("wal_skipped", db.walSkipped.toString)
    m
  }

  override def makeScan(wanted: Seq[String], pruned: StructType,
      loUs: Option[Long], hiUs: Option[Long], pushed: Array[Filter]): Scan =
    new FossilNativeScan(this, wanted, pruned, loUs, hiUs, pushed)
}

/** One gob segment FILE per partition (≤ 10k datums each — the layout's
  * own parallel unit). */
final case class NativeSegmentPartition(path: String) extends InputPartition

/** The driver-resolved rows (v1 inline segments, WAL-born segments, the
  * WAL tail continuing the current segment): absolute `(t_ns, topicId,
  * bytes)` triples — bounded by the reference's own WAL truncation. */
final case class NativeRowsPartition(rows: Array[(Long, Int, Array[Byte])])
  extends InputPartition

final class FossilNativeScan(
    table: FossilNativeTable,
    wantedTopics: Seq[String],
    pruned: StructType,
    loUs: Option[Long],
    hiUs: Option[Long],
    pushed: Array[Filter])
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = pruned

  override def toBatch: Batch = this

  override def description(): String =
    s"FossilNativeScan root=${table.root}, prefix=${table.prefix}, " +
      s"topics=${wantedTopics.size}, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${pruned.simpleString}"

  private lazy val partitions: Array[InputPartition] = {
    val db = table.db
    val driverRows = db.driverSegments.iterator.flatMap { seg =>
      seg.data.iterator.map(d => (seg.headTimeNs + d.deltaNs, d.topicId, d.data))
    }.toArray
    val segParts: Array[InputPartition] =
      db.snapshotFiles.map(f => NativeSegmentPartition(f): InputPartition).toArray
    if (driverRows.isEmpty) segParts
    else segParts :+ (NativeRowsPartition(driverRows): InputPartition)
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new FossilNativeReaderFactory(
      table.db.topics.toArray.map(FossilDatabase.normalizeTopicName),
      table.db.topics.indices.map(table.db.ddlOf).toArray,
      wantedTopics.toSet, pruned.fieldNames,
      table.combined.ddl, table.opaqueValue, loUs, hiUs,
      new org.apache.spark.util.SerializableConfiguration(StoreFs.conf()))

  /** Datums with out-of-catalog topic ids CANNOT surface through the
    * connector (the planned value type comes from the catalog; a corrupt
    * id's bytes have no schema) — where `importInto` deliberately lands
    * them under synthesized binary topics so corruption never vanishes
    * from counts. The connector makes the same corruption VISIBLE as a
    * per-scan metric instead of silently shrinking the row count. */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new UnknownTopicDatumsMetric)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(
      table.db.snapshotFiles.map(f => StoreFs.stamp(f).map(_._2).getOrElse(0L)).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

final class FossilNativeReaderFactory(
    topics: Array[String],
    ddls: Array[String],
    wanted: Set[String],
    prunedFields: Array[String],
    combinedDdl: String,
    opaqueValue: Boolean,
    loUs: Option[Long],
    hiUs: Option[Long],
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p match {
      case NativeSegmentPartition(path) =>
        val seg = FossilDatabase.decodeSegment(
          StoreFs.readBytesWith(path, hadoopConf.value))
        seg.data.iterator.map(d => (seg.headTimeNs + d.deltaNs, d.topicId, d.data))
      case NativeRowsPartition(rs) => rs.iterator
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }
    new FossilNativeReader(rows, topics, ddls, wanted, prunedFields,
      combinedDdl, opaqueValue, loUs, hiUs)
  }
}

final class FossilNativeReader(
    rows: Iterator[(Long, Int, Array[Byte])],
    topics: Array[String],
    ddls: Array[String],
    wanted: Set[String],
    prunedFields: Array[String],
    combinedDdl: String,
    opaqueValue: Boolean,
    loUs: Option[Long],
    hiUs: Option[Long])
  extends PartitionReader[InternalRow] {

  // opaque view never decodes values, and "ambiguous" has no DDL to parse
  private val combined: SType =
    if (opaqueValue) FossilSchema.SBinary else FossilSchema.parse(combinedDdl)
  private val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(combined.sparkType)
  private val needValue = prunedFields.contains("value") && !opaqueValue
  private val lo = loUs.getOrElse(Long.MinValue)
  private val hi = hiUs.getOrElse(Long.MaxValue)

  private var unknownTopicDatums: Long = 0L

  private def topicOf(tid: Int): String =
    if (tid >= 0 && tid < topics.length) topics(tid)
    else s"/__unknown_topic_$tid"
  private val topicU: Array[UTF8String] = topics.map(UTF8String.fromString)
  private val sTypes: Array[SType] = ddls.map(FossilSchema.parse)

  /** Wire bytes → external JVM value at the COMBINED type: decode per the
    * topic's own schema, composites to sorted-field Rows, numerics widened
    * to the combined scalar (mirroring `ParquetStore.entries`' cast). */
  private def decodeValue(tid: Int, bytes: Array[Byte]): Any = {
    val st = if (tid >= 0 && tid < sTypes.length) sTypes(tid)
      else FossilSchema.SBinary
    widen(Codec.toSpark(st, Codec.decode(st, bytes)), combined)
  }

  private def widen(v: Any, to: SType): Any = (v, to) match {
    case (null, _) => null
    case (x, SArray(_, elem)) => x match {
      case s: Seq[_] => s.map(e => widenScalar(e, elem.sparkType))
      case other => other
    }
    case (x, sc: Scalar) => widenScalar(x, sc.sparkType)
    case (x, _) => x
  }

  private def widenScalar(v: Any, to: DataType): Any = (v, to) match {
    case (null, _) => null
    case (x: java.lang.Number, LongType) => x.longValue
    case (x: java.lang.Number, IntegerType) => x.intValue
    case (x: java.lang.Number, ShortType) => x.shortValue
    case (x: java.lang.Number, ByteType) => x.byteValue
    case (x: java.lang.Number, DoubleType) => x.doubleValue
    case (x: java.lang.Number, FloatType) => x.floatValue
    case (x: String, BinaryType) =>
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case (x, _) => x
  }

  private var current: InternalRow = null

  override def next(): Boolean = {
    while (rows.hasNext) {
      val (tNs, tid, bytes) = rows.next()
      val tUs = tNs / 1000L // integral, truncates toward zero — matches `div`
      if (tid < 0 || tid >= topics.length) unknownTopicDatums += 1
      val topic = topicOf(tid)
      if (tUs >= lo && tUs <= hi && wanted.contains(topic)) {
        val out = new Array[Any](prunedFields.length)
        var i = 0
        while (i < prunedFields.length) {
          out(i) = prunedFields(i) match {
            case "time" => tUs
            case "topic" =>
              if (tid >= 0 && tid < topicU.length) topicU(tid)
              else UTF8String.fromString(topic)
            case "value" => if (needValue) toCatalyst(decodeValue(tid, bytes)) else null
            case other => throw new IllegalStateException(s"unknown column $other")
          }
          i += 1
        }
        current = new GenericInternalRow(out)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "unknownTopicDatums"
      override def value(): Long = unknownTopicDatums
    })

  override def close(): Unit = ()
}

/** Sum-aggregated scan metric: datums whose topic id is outside the
  * catalog (corruption the import path would land as synthesized binary
  * topics — see [[FossilNativeScan.supportedCustomMetrics]]). */
final class UnknownTopicDatumsMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "unknownTopicDatums"
  override def description(): String =
    "native datums dropped: topic id outside the catalog"
}

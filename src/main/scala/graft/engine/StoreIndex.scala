package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import FossilSchema.SType

/** One store data file as [[StoreIndex]] knows it: its path, length and
  * mtime as listed and, from its footer, its row count and the inclusive µs
  * range of its non-null `time` values. `range` is None when the footer gives no usable range
  * (INT96 or millisecond time, a row group without statistics, or only
  * null times); an empty file has the empty range `(Long.MaxValue,
  * Long.MinValue)`. */
final case class IndexedFile(path: Path, length: Long, mtime: Long, rows: Long,
    range: Option[(Long, Long)]) {
  def status: FileStatus = new FileStatus(length, false, 1, 0, mtime, path)
  /** Whether a row of this file can have a time in `[lo, hi]`. */
  def mayOverlap(lo: Long, hi: Long): Boolean = range.forall { case (a, b) => a <= hi && b >= lo }
}

/** One topic's live files, listed under one schema group. */
final case class TopicFiles(topic: String, dir: String, files: Seq[IndexedFile])

/** The store's file index, the one place that knows the store layout: the
  * `sgroup=`/`topic=` directories of the wanted topics, which of their
  * files are data files, and each file's footer row count and `time`
  * range. [[ParquetStore]] and the `fossil` connector both list through
  * it.
  *
  * Staleness rule: [[list]] re-lists the directories (names, sizes,
  * mtimes) on every call and reads a footer only for a file no index in
  * this JVM has seen with that size and mtime; the files stay the only
  * source of truth, so nothing the index hands out can describe files that
  * were not there at its listing. Footer facts are shared JVM-wide and
  * kept per directory for the files of its latest listing only; the
  * counters are this instance's own. */
final class StoreIndex {
  private val footerReadCount = new LongAdder
  private[engine] val prunedCount = new LongAdder

  /** Footers this index has read. */
  def footerReads: Long = footerReadCount.sum()
  /** Files a scan's `time` bounds kept out of it. */
  def filesPruned: Long = prunedCount.sum()

  /** The data files of `topic` under `groupDir`, in name order. */
  private def list(groupDir: String, topic: String): TopicFiles = {
    val dir = s"$groupDir/${ExternalCatalogUtils.getPartitionPathString("topic", topic)}"
    val listed = StoreFs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }
    val before = StoreIndex.known.getOrDefault(dir, Map.empty)
    lazy val conf = StoreFs.conf()
    val files = listed.map { st =>
      before.getOrElse(StoreIndex.key(st), { footerReadCount.increment(); StoreIndex.read(st, conf) })
    }
    if (files.isEmpty) StoreIndex.known.remove(dir)
    else StoreIndex.known.put(dir,
      files.iterator.map(f => (f.path.toString, f.length, f.mtime) -> f).toMap)
    TopicFiles(topic, dir, files)
  }

  /** The listed files of the `wanted` topics of the store at `root`, per
    * schema group whose directory exists, groups in the order of their
    * topics' first appearance. */
  def listGroups(root: String, catalog: Catalog, wanted: Seq[String]): Seq[(SType, Seq[TopicFiles])] =
    wanted.groupBy(catalog.schemaOf).toSeq.collect { case (Some(s), ts) => (s, ts) }
      .sortBy { case (_, ts) => wanted.indexOf(ts.head) }
      .map { case (s, ts) => (s, ParquetStore.groupDir(root, s), ts) }
      .filter { case (_, dir, _) => StoreFs.isDirectory(dir) }
      .map { case (s, dir, ts) => (s, ts.map(list(dir, _))) }
}

object StoreIndex {
  // footer facts of every index in the JVM, per listed directory
  private val known = new ConcurrentHashMap[String, Map[(String, Long, Long), IndexedFile]]

  private def key(st: FileStatus) = (st.getPath.toString, st.getLen, st.getModificationTime)

  /** Row count and `time` range of one file, from its footer. Only
    * `INT64 TIMESTAMP(MICROS, UTC)` has a usable range: INT96 carries no
    * ordered statistics, and a millisecond range would need rounding. */
  private def read(st: FileStatus, conf: Configuration): IndexedFile = {
    val in = HadoopInputFile.fromStatus(st, conf)
    val stream = in.newStream()
    try {
      val footer = ParquetFileReader.readFooter(in, FooterOptions, stream)
      val schema = footer.getFileMetaData.getSchema
      val micros = schema.containsField("time") && {
        val t = schema.getType(schema.getFieldIndex("time"))
        t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
          (t.getLogicalTypeAnnotation match {
            case ts: TimestampLogicalTypeAnnotation =>
              ts.getUnit == TimeUnit.MICROS && ts.isAdjustedToUTC
            case _ => false
          })
      }
      val blocks = footer.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      var usable = micros
      var lo = Long.MaxValue
      var hi = Long.MinValue
      blocks.foreach { b =>
        if (usable && b.getRowCount > 0) {
          b.getColumns.asScala.find(_.getPath.toDotString == "time").map(_.getStatistics) match {
            case Some(s) if s != null && s.hasNonNullValue =>
              lo = math.min(lo, s.genericGetMin.asInstanceOf[java.lang.Long])
              hi = math.max(hi, s.genericGetMax.asInstanceOf[java.lang.Long])
            case Some(s) if s != null && s.isNumNullsSet && s.getNumNulls == b.getRowCount =>
            case _ => usable = false
          }
        }
      }
      IndexedFile(st.getPath, st.getLen, st.getModificationTime, rows,
        if (usable && (rows == 0 || lo <= hi)) Some((lo, hi)) else None)
    } finally stream.close()
  }

  // footer-only reads: built once, because options built from a Hadoop
  // conf copy every entry of it on each call, which cost more than the
  // read itself (encrypted footers are not a store format)
  private val FooterOptions = ParquetReadOptions.builder().build()

  /** The inclusive µs bounds that `filters` (conjuncts over a relation
    * with a `time` column) put on `time`: comparisons of `time` with a
    * timestamp literal narrow them, anything else leaves them alone. */
  def timeBounds(filters: Seq[Expression]): (Long, Long) = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    def isTime(e: Expression) = e match {
      case a: Attribute => a.name.equalsIgnoreCase("time") && a.dataType == TimestampType
      case _ => false
    }
    def narrow(op: String, v: Long): Unit = op match {
      case ">=" => lo = math.max(lo, v)
      case ">" => lo = math.max(lo, if (v == Long.MaxValue) v else v + 1)
      case "<=" => hi = math.min(hi, v)
      case "<" => hi = math.min(hi, if (v == Long.MinValue) v else v - 1)
      case "=" | "<=>" => lo = math.max(lo, v); hi = math.min(hi, v)
      case _ =>
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    filters.flatMap(conjuncts).foreach {
      case c: BinaryComparison => (c.left, c.right) match {
        case (t, Literal(v: Long, TimestampType)) if isTime(t) => narrow(c.symbol, v)
        case (Literal(v: Long, TimestampType), t) if isTime(t) => narrow(flip(c.symbol), v)
        case _ =>
      }
      case _ =>
    }
    (lo, hi)
  }

  private def flip(symbol: String): String = symbol match {
    case ">=" => "<="
    case ">" => "<"
    case "<=" => ">="
    case "<" => ">"
    case s => s
  }
}

/** A Spark `FileIndex` over listed store files of one schema group, with
  * the topic as the partition value. `listFiles` evaluates the topic
  * filters itself and drops every file whose `time` range cannot meet the
  * scan's `time` bounds; a file with an unknown range is always kept. The
  * file list is fixed: a frame built on this index reads the files of the
  * listing it was built from. */
private[engine] final class StoreFileIndex(topics: Seq[TopicFiles], pruned: LongAdder)
    extends FileIndex {

  private val partitions =
    topics.map(t => (InternalRow(UTF8String.fromString(t.topic)), t.files))

  override val partitionSchema: StructType = StructType(Seq(StructField("topic", StringType)))

  override def rootPaths: Seq[Path] = topics.map(t => new Path(t.dir))

  override def inputFiles: Array[String] =
    topics.iterator.flatMap(_.files).map(_.path.toString).toArray

  override def sizeInBytes: Long = topics.iterator.flatMap(_.files).map(_.length).sum

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val onTopic = partitionFilters.filter(f => f.deterministic &&
      !f.exists(_.isInstanceOf[PlanExpression[_]]) &&
      f.references.forall(_.name.equalsIgnoreCase("topic")))
    val keep: InternalRow => Boolean =
      if (onTopic.isEmpty) _ => true
      else {
        val p = Predicate.createInterpreted(onTopic.reduce(And).transform {
          case a: AttributeReference => BoundReference(0, StringType, a.nullable)
        })
        p.eval
      }
    val (lo, hi) = StoreIndex.timeBounds(dataFilters)
    partitions.collect { case (row, files) if keep(row) =>
      val kept = files.filter(_.mayOverlap(lo, hi))
      pruned.add(files.size - kept.size)
      PartitionDirectory(row, kept.map(f => FileStatusWithMetadata(f.status)))
    }
  }

  override def toString: String = s"StoreFileIndex(${topics.map(_.dir).mkString(", ")})"
}

package graft.connector

import java.io.Closeable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._

import graft.engine.FossilSchema.{SAmbiguous, SType}
import graft.engine.ParquetStore

/** One split of one data file of a [[FossilDataSource]] scan: a byte range
  * of a Parquet file under `root/data/sgroup=…/topic=…/`, read as schema
  * group `group` of the scan's [[FossilReaderFactory]]. The file's topic is
  * its partition value (the `topic=` directory, not a file column). Row
  * groups whose midpoint falls inside the range belong to the split, as
  * with Spark's own file splits, so a store file bigger than
  * `spark.sql.files.maxPartitionBytes` parallelizes without the planner
  * knowing its row groups. A split never mixes schema groups. */
final case class FossilInputPartition(group: Int, file: PartitionedFile)
  extends InputPartition

/** Reads [[FossilInputPartition]]s with Spark's own Parquet reader
  * (`ParquetFileFormat.buildReaderWithPartitionValues`), one reader per
  * schema group, so the connector scans store files the way
  * `ParquetStore.entries` does: the vectorized reader, row-group pruning
  * from the pushed time bounds (stats of INT64 timestamps in any unit;
  * INT96 columns prune nothing), column pruning, and a footer-only count
  * when the scan wants no file column. Pruning is never a correctness
  * input: every pushed filter is also a residual Spark re-evaluates.
  *
  * Each group's rows are projected into the scan's columns, with the value
  * widened to the store's combined type by [[ParquetStore.widenValue]]
  * (the rule `entries` applies) as a Catalyst cast under the session's
  * time zone and eval mode. */
final class FossilReaderFactory private (
    readers: Array[PartitionedFile => Iterator[InternalRow]],
    outputs: Array[Seq[Expression]])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[FossilInputPartition]
    val rows = readers(part.group)(part.file)
    val project = UnsafeProjection.create(outputs(part.group))
    new PartitionReader[InternalRow] {
      private var row: InternalRow = null
      override def next(): Boolean = rows.hasNext && { row = project(rows.next()); true }
      override def get(): InternalRow = row
      // the vectorized reader's iterator closes itself only once drained
      override def close(): Unit = rows match {
        case c: Closeable => c.close()
        case _ => ()
      }
    }
  }
}

private[connector] object FossilReaderFactory {

  private val topicSchema = StructType(Seq(StructField("topic", StringType)))

  /** Driver side: build the readers for `groups` (the scan's schema groups,
    * indexed as its partitions' `group`) and the projections from each
    * group's file columns plus the topic into `pruned`. `loUs`/`hiUs` are
    * the pushed inclusive time bounds in µs. */
  def apply(spark: SparkSession, groups: Seq[SType], combined: SType,
      pruned: StructType, loUs: Option[Long], hiUs: Option[Long]): FossilReaderFactory = {
    // the bounds reach the reader as inclusive filters, not as the pushed
    // filters themselves: for a TIMESTAMP_MILLIS column Spark floors a
    // bound to whole milliseconds, which turns `time < 1.5 ms` into
    // `ms < 1` and prunes a row group holding 1.0 ms; a floored `<=` is
    // exact and a floored `>=` only keeps more
    val timeFilters =
      loUs.map(us => GreaterThanOrEqual("time", DateTimeUtils.microsToInstant(us))).toSeq ++
        hiUs.map(us => LessThanOrEqual("time", DateTimeUtils.microsToInstant(us)))
    val conf = spark.sessionState.conf
    val tz = Some(conf.sessionLocalTimeZone)
    val evalMode = EvalMode.fromSQLConf(conf)
    // columns read from the files; an opaque (Ambiguous) value is a
    // constant null, so it is not read
    val fileFields = pruned.fieldNames.filter(f =>
      f == "time" || (f == "value" && combined != SAmbiguous))
    val readers = groups.map { g =>
      val dataSchema = ParquetStore.fileSchema(g.sparkType)
      new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema,
        topicSchema, StructType(fileFields.map(dataSchema(_))), timeFilters,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        // a fresh conf per group: the reader writes its requested schema
        // into the conf it is given, and must not touch the caller's
        spark.sessionState.newHadoopConf())
    }.toArray
    val outputs = groups.map { g =>
      pruned.fieldNames.toSeq.map {
        case "time" =>
          BoundReference(fileFields.indexOf("time"), TimestampType, nullable = true)
        case "topic" => BoundReference(fileFields.length, StringType, nullable = true)
        case _ => ParquetStore.widenValue[Expression](g.sparkType, combined)(
          BoundReference(fileFields.indexOf("value"), g.sparkType, nullable = true))(
          Cast(_, _, tz, evalMode), Literal(null, BinaryType))
      }
    }.toArray
    new FossilReaderFactory(readers, outputs)
  }
}

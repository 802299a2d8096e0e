package graft.engine

import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType

/** Spark's Parquet format with the store's rules, used to write and to read
  * every store file.
  *
  * Write: the `time` column lands as `INT64 TIMESTAMP(MICROS)`, whose footer
  * min/max give [[StoreIndex]] each file's time range, unless the writing
  * session sets `spark.sql.parquet.outputTimestampType` itself. Spark's
  * `ParquetUtils.prepareWrite` copies that type from the session's SQL
  * conf into the write job's Hadoop conf (write options cannot change it),
  * and the Parquet write support reads it from there, so the rule edits
  * only the job's conf: the session stays as the caller left it.
  *
  * Read: pushed strict `time` bounds become inclusive ones a microsecond
  * inside. For a TIMESTAMP_MILLIS file Spark floors a bound to whole
  * milliseconds, which turns `time < 1.5 ms` into `ms < 1` and prunes a row
  * group holding 1.0 ms; a floored `<=` is exact and a floored `>=` only
  * keeps more rows, and the scan's own filter keeps the result exact. */
final class StoreParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    val key = SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key
    if (!getSqlConf(sparkSession).contains(key))
      job.getConfiguration.set(key, SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    factory
  }

  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      requiredSchema, filters.map(StoreParquetFormat.inclusive), options, hadoopConf)
}

private[engine] object StoreParquetFormat {
  /** `time < t` as `time <= t - 1µs` and `time > t` as `time >= t + 1µs`;
    * timestamps carry whole microseconds, so each pair selects the same
    * rows. Any other filter passes through. */
  def inclusive(f: Filter): Filter = f match {
    case LessThan("time", t) => shifted(t, -1L).fold(f)(LessThanOrEqual("time", _))
    case GreaterThan("time", t) => shifted(t, 1L).fold(f)(GreaterThanOrEqual("time", _))
    case other => other
  }

  private def shifted(t: Any, us: Long): Option[Any] = t match {
    case i: Instant => Some(i.plusNanos(us * 1000L))
    case ts: Timestamp => Some(Timestamp.from(ts.toInstant.plusNanos(us * 1000L)))
    case _ => None
  }
}

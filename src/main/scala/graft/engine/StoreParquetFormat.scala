package graft.engine

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark's Parquet format with the store's write rule: the `time` column
  * lands as `INT64 TIMESTAMP(MICROS)`, whose footer min/max give
  * [[StoreIndex]] each file's time range, unless the writing session sets
  * `spark.sql.parquet.outputTimestampType` itself. Spark's
  * `ParquetUtils.prepareWrite` copies that type from the session's SQL
  * conf into the write job's Hadoop conf (write options cannot change it),
  * and the Parquet write support reads it from there, so the rule edits
  * only the job's conf: the session stays as the caller left it. Reads use
  * Spark's plain Parquet format. */
final class StoreParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    val key = SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key
    if (!getSqlConf(sparkSession).contains(key))
      job.getConfiguration.set(key, SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    factory
  }
}

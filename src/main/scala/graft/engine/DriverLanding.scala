package graft.engine

import java.util.UUID

import scala.util.Using

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow}
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types._

import FossilSchema.SType

/** The [[ParquetStore]] landing path for rows already on the driver (single
  * APPENDs, wire-import pages): no Spark job, no task scheduling. Values are
  * converted with Catalyst's `CatalystTypeConverters` and cast to each
  * topic's catalog type with Catalyst's `Cast` under the session's ANSI
  * mode, so a value the Spark write path would reject fails here too,
  * before any file exists. Each topic's rows, sorted by time, go to one
  * file written by Spark's own Parquet writer (`ParquetUtils.prepareWrite`
  * → `OutputWriterFactory.newInstance`, session SQL and Hadoop conf), so
  * the file's schema, encodings and footer metadata are the ones a Spark
  * job would write.
  *
  * Commit: [[stage]] writes every file under a dot-prefixed temp name in
  * its `topic=` directory (hidden from scans, like Spark's `_temporary`);
  * [[publish]] renames them to `part-<uuid>.c000<ext>`. Files are closed
  * without fsync, as Spark's writer does. */
private[engine] object DriverLanding {

  /** One topic's rows, Catalyst-typed `(time, value)`, time-sorted, with
    * the catalog schema they were cast to. */
  final case class TopicRows(topic: String, target: SType, rows: Seq[InternalRow])

  /** A written, not yet visible, data file. */
  final case class Staged(tmp: String, dst: String)

  private val attempt =
    new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)

  private implicit val closeWriter: Using.Releasable[OutputWriter] = _.close()

  /** Convert `rows` `(time, topic, value)`, typed by the append-side
    * `schema`, to Catalyst values, cast each value to its topic's entry in
    * `targets`, and sort by (topic, time). Throws on a value that does not
    * convert or cast. */
  def prepare(spark: SparkSession, rows: Seq[Row], schema: SType,
      targets: Map[String, SType]): Seq[TopicRows] = {
    val conf = spark.sessionState.conf
    val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(ParquetStore.entrySchema(schema.sparkType))
    val casts = targets.values.toSeq.distinct.map { t =>
      t -> Cast(BoundReference(2, schema.sparkType, nullable = true), t.sparkType,
        Some(conf.sessionLocalTimeZone), EvalMode.fromSQLConf(conf))
    }.toMap
    rows.groupBy(_.getString(1)).toSeq.sortBy(_._1).map { case (topic, rs) =>
      val target = targets(topic)
      val cast = casts(target)
      val converted = rs.map { r =>
        val in = toCatalyst(r).asInstanceOf[InternalRow]
        new GenericInternalRow(Array[Any](in.get(0, TimestampType), cast.eval(in))): InternalRow
      }
      // nulls first, as Spark's ascending sort
      TopicRows(topic, target,
        converted.sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0)))
    }
  }

  /** Write one file per topic under `groupDir(target)/topic=<escaped>/`,
    * each under a hidden temp name. All or nothing: on a failure every
    * temp written so far is deleted before the error propagates. */
  def stage(spark: SparkSession, topics: Seq[TopicRows],
      groupDir: SType => String): Seq[Staged] = {
    val sqlConf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val writers = topics.map(_.target).distinct.map { t =>
      val dataSchema = StructType(Seq(
        StructField("time", TimestampType), StructField("value", t.sparkType)))
      val job = Job.getInstance(hadoopConf)
      val factory = ParquetUtils.prepareWrite(sqlConf, job, dataSchema,
        new ParquetOptions(Map.empty[String, String], sqlConf))
      t -> (factory, dataSchema, new TaskAttemptContextImpl(job.getConfiguration, attempt))
    }.toMap
    val staged = Seq.newBuilder[Staged]
    try {
      topics.foreach { case TopicRows(topic, target, rows) =>
        val (factory, dataSchema, ctx) = writers(target)
        val dir = s"${groupDir(target)}/${ExternalCatalogUtils.getPartitionPathString("topic", topic)}"
        val name = s"part-${UUID.randomUUID()}.c000${factory.getFileExtension(ctx)}"
        val s = Staged(s"$dir/.$name.tmp", s"$dir/$name")
        staged += s
        Using.resource(factory.newInstance(s.tmp, dataSchema, ctx))(w => rows.foreach(w.write))
      }
      staged.result()
    } catch {
      case e: Throwable =>
        discard(staged.result())
        throw e
    }
  }

  /** Make staged files visible, one rename each. If a rename fails, the
    * files already renamed and the remaining temps are deleted, so an
    * append lands whole or not at all. */
  def publish(staged: Seq[Staged]): Unit = {
    var done = 0
    try staged.foreach { s => StoreFs.publishFile(s.tmp, s.dst); done += 1 }
    catch {
      case e: Throwable =>
        staged.take(done).foreach(s => StoreFs.discardFile(s.dst))
        discard(staged.drop(done))
        throw e
    }
  }

  def discard(staged: Seq[Staged]): Unit = staged.foreach(s => StoreFs.discardFile(s.tmp))
}

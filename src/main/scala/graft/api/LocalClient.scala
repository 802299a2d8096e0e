package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal

import graft.engine.{Codec, FossilEngine, FossilSchema, ParquetStore, SchemaViolationException}
import graft.fql.Compiler
import graft.functions.FossilDecode

/** Embedded local client — the analog of the reference's server-less mode
  * (`api/local.go:17-91`, connection string `file://path`), exposing the
  * command surface of SURVEY §2.6 over a [[ParquetStore]]:
  *
  *   QUERY  → [[query]]      APPEND → [[append]]/[[appendBatch]]
  *   CREATE → [[createTopic]] LIST  → [[listTopics]]/[[listSchemas]]
  *   STATS  → [[stats]]
  *
  * (VERSION/USE are wire-protocol session concerns — out of engine scope.)
  */
final class LocalClient(
    val spark: SparkSession, val root: String,
    clock: Compiler.Clock = Compiler.systemClock) {

  private val store = new ParquetStore(spark, root)
  val engine = new FossilEngine(spark, store, clock)

  /** QUERY: FQL in, entries DataFrame out. */
  def query(fql: String): DataFrame = engine.query(fql)

  /** APPEND one datum (reference `db.Append`, `pkg/database/db.go:486-535`);
    * topic auto-creates with schema inheritance. Timestamp defaults to the
    * client clock like the reference's server-assigned time. */
  def append(topic: String, value: Any, time: Timestamp = null): Unit =
    store.append(Seq(Row(timeOrNow(time), topic, value)), store.catalog.effective(topic))

  /** Bulk APPEND of `(time, topic, value)` rows sharing one schema DDL,
    * landed from the driver without a Spark job
    * ([[graft.engine.ParquetStore.append]]). */
  def appendBatch(rows: Seq[Row], ddl: String): Unit =
    store.append(rows, FossilSchema.parse(ddl))

  /** Bulk APPEND of an entries DataFrame `(time, topic, value)` sharing one
    * schema DDL — the distributed ingest path (no rows through the driver);
    * topics auto-create with inheritance like [[append]]. */
  def appendFrame(rows: DataFrame, ddl: String): Unit =
    store.append(rows.select("time", "topic", "value"), FossilSchema.parse(ddl))

  /** Raw-bytes APPEND: the reference's schema-on-append gate
    * (`pkg/database/db.go:489-495` → `pkg/schema/objects.go:101-134`).
    * `bytes` must validate against the topic's catalog schema — rejected
    * with a typed [[SchemaViolationException]] otherwise — and good bytes
    * are decoded on the driver through the [[FossilDecode]] wire codec
    * into the typed store, so a later query returns the same value the
    * bytes encoded. */
  def appendRaw(topic: String, bytes: Array[Byte], time: Timestamp = null): Unit = {
    val schema = store.catalog.effective(topic)
    if (!Codec.validates(schema, bytes))
      throw new SchemaViolationException(
        s"append of ${bytes.length} bytes does not conform to topic $topic " +
          s"schema ${schema.ddl}")
    val value = CatalystTypeConverters.convertToScala(
      FossilDecode(schema.ddl, Literal(bytes)).eval(), schema.sparkType)
    store.append(Seq(Row(timeOrNow(time), topic, value)), schema)
  }

  private def timeOrNow(time: Timestamp): Timestamp =
    if (time != null) time else new Timestamp(Math.floorDiv(clock(), 1000000L))

  def createTopic(path: String, ddl: String = "string"): Unit =
    store.createTopic(path, ddl)

  /** LIST topics (with schema DDL). */
  def listTopics: Seq[(String, String)] = store.catalog.list.map { case (t, s) => (t, s.ddl) }

  /** LIST schemas in use. */
  def listSchemas: Seq[String] = store.catalog.list.map(_._2.ddl).distinct.sorted

  /** Store shape for the per-database metrics collector
    * (`fossil_database_segments` / `fossil_database_topics`,
    * `pkg/server/dbmetrics.go:21-48` analog): live data file count and
    * registered topic count, read at scrape time. */
  def storeShape: ServerMetrics.DbShape =
    ServerMetrics.DbShape(store.segmentCount, store.catalog.list.size.toLong)

  /** Maintenance: compact the store's accumulated small append files into
    * one time-sorted file per topic ([[graft.engine.ParquetStore.compact]]
    * — run during a quiesced period). */
  def compact(): Seq[(String, Long, Long)] = store.compact()

  /** STATS: per-topic entry counts + time bounds (reference
    * `pkg/database/stats.go` analog, computed from data not heap). */
  def stats: DataFrame = {
    import org.apache.spark.sql.functions._
    query("all").groupBy("topic")
      .agg(count(lit(1)).as("n"), min("time").as("first"), max("time").as("last"))
      .orderBy("topic")
  }
}

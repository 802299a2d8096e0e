package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.engine.{Catalog, FossilSchema}

/** Readers for the driver-provided test tables (`TESTDATA.md`), plus the
  * entry-view adapters that expose the `events` table through the fossil
  * data model (`topic = /events/<event_type>`, `value = value`).
  */
object Tables {

  /** Per-(session, dir, table) memo of the BUILT frame. Building a
    * `spark.read.parquet` relation is driver work — file listing, footer
    * schema inference, analysis — measured at 95-176 ms per call on this
    * box (r18, tools/ReadProbe as of `3e0ff69`); the battery builds these
    * frames several hundred times per bench run. The memo holds analyzed
    * PLANS, never results: every action still scans the parquet inputs. The driver test
    * tables are immutable for a JVM's lifetime, so a snapshotted file
    * listing cannot go stale; weak session keys keep a long-lived process
    * from pinning dead sessions. */
  private val frames =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]())
  private def memo(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    frames.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
      .computeIfAbsent((dir, name), _ => build)

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, dir, name)(spark.read.parquet(s"$dir/$name.parquet"))

  /** `events.ts` has shipped in two parquet physical types across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark 4 refuses —
    * [PARQUET_TYPE_ILLEGAL] — so it's read as raw int64 nanos) and
    * TIMESTAMP_MICROS. Detect which one this dataset has and normalize to
    * the same shape either way: `ts` a µs-precision TimestampType column
    * plus `__t_ns` with the epoch-nanos value of each row.
    *
    * Nanos input: the truncation ns→µs matches DuckDB's, so oracle
    * comparisons line up exactly; `ts` is a DERIVED column, so only the
    * `__t_ns` raw column (plus [[graft.plans.RawTimePushdown]]) reaches the
    * Parquet row-group stats. Micros input: `ts` IS the source column —
    * time predicates on it push down natively, and `__t_ns` is derived
    * (`unix_micros * 1000`), kept only for the FQL compiler's ns-exact
    * bound semantics. */
  def events(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "__events_normalized")(eventsBuild(spark, dir))

  private def eventsBuild(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // no-tz TIMESTAMP_MICROS would otherwise infer as TIMESTAMP_NTZ, which
    // every downstream comparison against TimestampType literals rejects at
    // analysis; with session tz pinned to UTC the instant is identical
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw int64 nanos
        raw
          .withColumn("__t_ns", col("ts"))
          // integer div — long/long through `/` would round-trip a 1.7e18 ns
          // value through double (53-bit mantissa) and corrupt low digits
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType =>
        raw.withColumn("__t_ns", unix_micros(col("ts")) * 1000L)
      case TimestampNTZType => // inferTimestampNTZ was set after a first read
        raw
          .withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("__t_ns", unix_micros(col("ts")) * 1000L)
      case other =>
        throw new IllegalStateException(
          s"events.ts: expected int64-nanos or timestamp, got $other")
    }
  }

  /** Events as fossil entries: `(time, topic, value:double)` + pushdown
    * column `__t_ns` (dropped by the compiler after filtering). */
  def eventEntries(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("ts").as("time"),
      concat(lit("/events/"), col("event_type")).as("topic"),
      col("value").as("value"),
      col("__t_ns"))

  /** Events as int64-valued entries (`value = user_id`) — exact-integer
    * arithmetic for deterministic reduce/avg oracle checks. */
  def eventEntriesLong(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("ts").as("time"),
      concat(lit("/events/"), col("event_type")).as("topic"),
      col("user_id").as("value"),
      col("__t_ns"))

  def eventsCatalog: Catalog = {
    val c = new Catalog
    c.createDdl("/events", "float64")
    Seq("click", "view", "purchase", "signup", "error")
      .foreach(t => c.ensure(s"/events/$t"))
    c
  }

  def eventsCatalogLong: Catalog = {
    val c = new Catalog
    c.createDdl("/events", "int64")
    Seq("click", "view", "purchase", "signup", "error")
      .foreach(t => c.ensure(s"/events/$t"))
    c
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}

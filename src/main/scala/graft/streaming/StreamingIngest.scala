package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming ingest + continuous analytics for the fossil data
  * model (`docs/overview.md:45-53` — the reference's ingest is a
  * continuously-appending server; queries are one-shot over current state;
  * there is no streaming query engine, so everything here is the natural
  * Spark-first extension, SURVEY §2.5 "Streaming" row).
  *
  * Design: entries stream in with the canonical `(time, topic, value)`
  * shape, land in topic-root-partitioned Parquet via an append sink with
  * checkpointed exactly-once file commits (replacing fossil's WAL+gob spill,
  * `pkg/database/db.go:486-535`), and continuous queries run as watermarked
  * windowed aggregations or stateful per-topic operators.
  */
object StreamingIngest {

  /** Canonical streaming entry row: micros epoch time keeps arithmetic
    * exact and encoder-friendly. */
  case class Entry(t_us: Long, topic: String, value: Double)

  val entrySchema: StructType = StructType(Seq(
    StructField("t_us", LongType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  /** File-drop ingest source: JSON-lines files appearing under `inPath`.
    * (The wire-protocol analog of fossil's APPEND firehose; socket sources
    * plug in identically.) */
  def fileSource(spark: SparkSession, inPath: String,
      maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(entrySchema)
      // bounded micro-batches under burst; callers needing one-file-per-
      // batch sequencing (watermark staging) pass 1
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inPath)

  /** Append sink: topic-root-partitioned Parquet with checkpointed
    * exactly-once semantics. Partitioning by the topic *root* (first path
    * segment) keeps partition counts bounded while preserving prefix-query
    * pruning (`topic` itself can be high-cardinality). */
  def writeEntries(entries: DataFrame, outPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    entries
      .withColumn("topic_root", split(regexp_replace(col("topic"), "^/", ""), "/").getItem(0))
      .writeStream
      .partitionBy("topic_root")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .format("parquet")
      .option("path", outPath)
      .outputMode(OutputMode.Append())
      .start()

  /** Continuous per-topic tumbling-window stats with late-data handling:
    * the streaming twin of a `groupBy(window(...))` batch aggregation.
    * Watermark bounds state; late rows beyond it are dropped (the reference
    * has no late-data story at all — server-assigned timestamps). */
  def windowedStats(entries: DataFrame, windowDur: String, watermarkDelay: String): DataFrame =
    entries
      .withColumn("time", timestamp_micros(col("t_us")))
      .withWatermark("time", watermarkDelay)
      .groupBy(window(col("time"), windowDur), col("topic"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"),
        min("t_us").as("first_us"), max("t_us").as("last_us"))
      .select(col("window.start").as("w_start"), col("topic"),
        col("n"), col("sum_value"), col("first_us"), col("last_us"))

  /** Append sink into a store: each micro-batch goes through the client's
    * BATCH append path (`foreachBatch` → `appendFrame` → `ParquetStore
    * .append`), so streamed entries get the full store contract — topics
    * auto-create with schema inheritance, the schema-on-append gate
    * applies, and the write serializes with other mutating store ops
    * (including [[graft.engine.ParquetStore.compact]]) on the store lock.
    *
    * Why not a direct `writeStream.format("parquet")` into the group dir:
    * a FileStreamSink plants `_spark_metadata` at its output root, after
    * which ANY read of that directory lists only stream-committed files —
    * batch-appended rows in the same schema group become invisible, and
    * compaction would drop them entirely. A shared layout needs exactly
    * one committer, and the store's own append is it.
    *
    * Delivery: exactly-once under normal operation (the checkpoint skips
    * committed batches); a crash BETWEEN the batch write and the
    * checkpoint commit replays that batch on restart → at-least-once
    * across crashes. Upstream [[dedupWithinWatermark]] (content-keyed) or
    * a post-hoc exact dedup restores effective exactly-once where it
    * matters. */
  def writeToStore(entries: DataFrame, client: graft.api.LocalClient, schemaDdl: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    entries
      .select(timestamp_micros(col("t_us")).as("time"), col("topic"), col("value"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        client.appendFrame(batch, schemaDdl)
      }
      .start()

  /** Streaming view over one schema group of a ParquetStore — the landing
    * store as a REPLAYABLE LOG. This is the handoff seam between live
    * migration and live analytics (r16 verdict item 4):
    * [[graft.sources.WireImport.follow]] lands each poll cycle's pages
    * through the store's batch append, and this source tails the group's
    * files, so `follow → store files → storeStream → StreamingFql` is one
    * composition — the migrated-to store serves continuous queries WHILE
    * the migration is still draining the old deployment.
    *
    * One schema group per stream (a file source carries one data schema —
    * the same reason [[graft.engine.ParquetStore]] lays groups out
    * separately); `topic` is recovered from the partition directories.
    * Pairs with `Trigger.AvailableNow` re-runs against one checkpoint:
    * each run processes exactly the files that appeared since the last —
    * the battery's restart-exactly-once pattern — or runs continuously
    * with a processing-time trigger for true tailing.
    *
    * Output: canonical `(time TIMESTAMP, topic STRING, value T)`. */
  def storeStream(spark: SparkSession, root: String, schemaDdl: String): DataFrame = {
    val st = graft.engine.FossilSchema.parse(schemaDdl)
    val dir = graft.engine.ParquetStore.groupDir(root, st)
    spark.readStream
      .schema(StructType(Seq(
        StructField("time", TimestampType, nullable = false),
        StructField("topic", StringType, nullable = false),
        StructField("value", st.sparkType))))
      .option("basePath", dir)
      .parquet(dir)
  }

  /** Sliding-window stats: overlapping windows of `windowDur` advancing by
    * `slideDur` — each row lands in windowDur/slideDur windows. */
  def slidingStats(entries: DataFrame, windowDur: String, slideDur: String,
      watermarkDelay: String): DataFrame =
    entries
      .withColumn("time", timestamp_micros(col("t_us")))
      .withWatermark("time", watermarkDelay)
      .groupBy(window(col("time"), windowDur, slideDur), col("topic"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("w_start"), col("topic"), col("n"), col("sum_value"))

  /** Session-window stats: windows close after `gapDur` of per-topic
    * inactivity — the variable-length session shape. */
  def sessionStats(entries: DataFrame, gapDur: String, watermarkDelay: String): DataFrame =
    entries
      .withColumn("time", timestamp_micros(col("t_us")))
      .withWatermark("time", watermarkDelay)
      .groupBy(session_window(col("time"), gapDur), col("topic"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("topic"), col("n"),
        col("sum_value"))

  /** Streaming exact dedup: drop rows whose `keyCols` were already seen
    * within the watermark horizon — the streaming twin of
    * `Dedup.exactGroups` (state is bounded by the watermark, the way a
    * 100 TB/day ingest pipeline has to bound it; content hash as the key
    * makes it content-dedup). */
  def dedupWithinWatermark(
      entries: DataFrame, timeCol: String, watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    entries
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Generic canonical streaming entry: the value keeps its NATIVE type
    * through the stateful ops — a forced double would silently corrupt
    * int64 values above 2^53 and change the output dtype vs the batch path
    * for the identical FQL query. */
  case class EntryOf[T](t_us: Long, topic: String, value: T)

  /** Streaming greedy downsample — the stateful twin of the batch
    * `Sample.greedy` operator (fossil F2, `pkg/query/plan/metadata.go:46-64`):
    * per topic, keep an entry iff it is at least `intervalUs` after the last
    * kept one. State is one Long per topic (last kept time); within each
    * micro-batch rows are processed in time order. Exact greedy semantics
    * hold when event time is non-decreasing across batches (fossil's
    * append-order guarantee); out-of-order arrivals within a batch are
    * sorted, across batches they are best-effort — documented deviation. */
  def greedySampleTyped[T](entries: Dataset[EntryOf[T]], intervalUs: Long)(
      implicit enc: org.apache.spark.sql.Encoder[EntryOf[T]],
      ord: Ordering[T]): Dataset[EntryOf[T]] = {
    import entries.sparkSession.implicits._
    entries
      .groupByKey(_.topic)
      .flatMapGroupsWithState[Long, EntryOf[T]](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, batch: Iterator[EntryOf[T]], state: GroupState[Long]) =>
          var lastKept = state.getOption.getOrElse(Long.MinValue)
          val kept = batch.toSeq.sortBy(e => (e.t_us, e.value)).filter { e =>
            val keep = lastKept == Long.MinValue || e.t_us >= lastKept + intervalUs
            if (keep) lastKept = e.t_us
            keep
          }
          if (kept.nonEmpty) state.update(lastKept)
          kept.iterator
      }
  }

  /** Double-valued convenience shape (see [[greedySampleTyped]]). */
  def greedySample(entries: Dataset[Entry], intervalUs: Long): Dataset[Entry] = {
    import entries.sparkSession.implicits._
    greedySampleTyped(entries.map(e => EntryOf(e.t_us, e.topic, e.value)), intervalUs)
      .map(e => Entry(e.t_us, e.topic, e.value))
  }
}

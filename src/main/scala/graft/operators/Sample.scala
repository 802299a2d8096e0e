package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `sample(d)` — fossil's greedy time downsample
  * (`pkg/query/plan/metadata.go:46-64`): keep the first entry, then the next
  * entry whose time is ≥ lastKept + d. NOT fixed buckets — the kept set
  * depends on the previous kept entry, so it's a sequential scan per stream.
  *
  * Scale design: greedy sampling is inherently sequential *within a stream*,
  * but streams (topics) are independent — so the 100 TB path is
  * one sequential pass per topic, all topics in parallel
  * (`repartition(topic)` + secondary sort, no global ordering). The
  * fossil-exact single-global-stream variant ([[greedyGlobal]]) is provided
  * for parity and documented as the non-scalable one.
  *
  * Both greedy variants are one lazy Dataset plan: a `mapPartitions` with a
  * row encoder over the arranged frame, with no RDD in between. Nothing
  * runs until the caller's action, and AQE plans the shuffle as part of
  * that action's query.
  *
  * [[bucketed]] is the fully-parallel approximation (tumbling buckets, keep
  * earliest per bucket) — the variant you'd reach for at extreme scale, and
  * the one with a clean SQL equivalence for oracle checks.
  */
object Sample {

  private val T = "__t_us"

  /** Exact greedy sample, one independent pass per topic. */
  def greedyPerTopic(df: DataFrame, intervalNs: Long): DataFrame =
    greedy(df, intervalNs, perTopic = true)

  /** Fossil-exact: one greedy pass over the single global time-ordered
    * stream (all selected topics merged). Forces parallelism 1 — use only
    * when cross-topic greedy semantics genuinely matter. */
  def greedyGlobal(df: DataFrame, intervalNs: Long): DataFrame =
    greedy(df, intervalNs, perTopic = false)

  /** The greedy interval in whole µs, as batch and streaming `sample` both
    * apply it. Timestamps have µs resolution, so a sub-µs positive interval
    * means "drop same-µs entries, keep any later µs" ≡ 1 µs: floorDiv alone
    * would give 0 and keep everything. Zero/negative intervals genuinely
    * keep everything (t >= last + d always holds), like the reference. */
  def intervalUs(intervalNs: Long): Long =
    if (intervalNs <= 0) 0L else math.max(1L, Math.floorDiv(intervalNs, 1000L))

  private def greedy(df: DataFrame, intervalNs: Long, perTopic: Boolean): DataFrame = {
    val interval = intervalUs(intervalNs)
    val withT = df.withColumn(T, unix_micros(col("time")))
    val schema = withT.schema
    val tIdx = schema.fieldIndex(T)
    val topicIdx = schema.fieldIndex("topic")

    // `value` is the last sort key, as in the streaming twin and [[bucketed]]:
    // among same-µs entries of a stream the kept one must not depend on the
    // order a shuffle delivers them.
    //
    // The greedy carry is sequential, but the SORT never has to be: the
    // global variant range-sorts in parallel (sample → range shuffle →
    // per-partition sort) and the single carry task then just CONCATENATES
    // the ordered range partitions (coalesce(1) without shuffle reads
    // parents in partition-index order, which for a range sort IS global
    // time order) — an O(n) streaming scan, not a single-task full sort
    // of the whole stream.
    val arranged =
      if (perTopic)
        withT.repartition(col("topic"))
          .sortWithinPartitions(col("topic"), col(T), col("value"))
      else withT.orderBy(col(T), col("value")).coalesce(1)

    // Sequential greedy scan; partitions are (topic-sorted, time-sorted) so a
    // single pass with a per-topic carry is exact.
    arranged.mapPartitions { (it: Iterator[Row]) =>
      var lastKept = Map.empty[String, Long]
      it.filter { r =>
        val key = if (perTopic) r.getString(topicIdx) else ""
        val t = r.getLong(tIdx)
        lastKept.get(key) match {
          case Some(prev) if t - prev < interval => false
          case _ =>
            lastKept = lastKept.updated(key, t)
            true
        }
      }
    }(Encoders.row(schema)).drop(T)
  }

  /** Tumbling-bucket approximation: keep the earliest entry per
    * (topic, epoch-aligned bucket). Embarrassingly parallel; documented
    * deviation from the greedy carry semantics.
    *
    * `value` is the final ordering key: entries sharing (topic, time) are
    * otherwise picked in engine-chosen order — timestamps are unique in
    * the test data, but at real scale same-µs entries per topic are
    * routine and the kept row must not depend on partition layout. */
  def bucketed(df: DataFrame, intervalNs: Long): DataFrame = {
    val intervalUs = math.max(1L, Math.floorDiv(intervalNs, 1000L))
    // FLOOR division on exact long micros: `/`+cast truncates toward zero,
    // which merges the two windows adjacent to the epoch for pre-1970
    // timestamps (trunc(-0.6) = trunc(0.6) = 0). pmod floors the multiple,
    // and SQL `div` keeps the quotient in LONG arithmetic end to end —
    // `/` is double division, which rounds |t_us| > 2^53 (~year 2255 /
    // pre-283 BCE) and can merge or split adjacent far-range buckets.
    val bucket = expr(
      s"(unix_micros(time) - pmod(unix_micros(time), ${intervalUs}L)) div ${intervalUs}L")
    val w = Window.partitionBy(col("topic"), bucket).orderBy(col("time"), col("value"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}

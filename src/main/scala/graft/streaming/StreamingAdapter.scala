package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fql.{Ast, Compiler, Parser}

/** Continuous FQL: the same parse → compile path as batch, over a streaming
  * entries frame. filter/map stages compile 1:1 (stateless narrow ops),
  * `sample` becomes the stateful per-topic greedy operator, agg-shaped
  * `reduce` (+/min/max over the reduce args) runs as a streaming global
  * aggregation (O(1) state — drive the sink in complete mode); only the
  * general fold is rejected (unbounded per-row state) in favor of
  * windowed aggregation.
  */
object StreamingFql {
  def query(fql: String, entries: DataFrame,
      clock: Compiler.Clock = Compiler.systemClock): DataFrame =
    Compiler.compile(Parser.parse(fql), entries, clock)

  def parse(fql: String): Ast.Query = Parser.parse(fql)
}

/** Bridge used by the compiler for streaming-specific physical choices. */
object StreamingAdapter {

  /** Streaming greedy sample over a canonical `(time, topic, value)` frame:
    * converts to the typed entry stream, runs the stateful operator, and
    * restores the canonical shape WITH the input's value dtype. Integral
    * values ride through as exact longs (a forced double corrupts int64
    * above 2^53 and changes the output dtype vs the batch path); other
    * numerics use the double shape. */
  def greedySample(entries: DataFrame, intervalNs: Long): DataFrame = {
    import entries.sparkSession.implicits._
    import org.apache.spark.sql.types._
    val vt = entries.schema(Compiler.ValueCol).dataType
    val intervalUs = graft.operators.Sample.intervalUs(intervalNs)
    val base = entries.select(
      unix_micros(col(Compiler.TimeCol)).as("t_us"),
      col(Compiler.TopicCol).as("topic"),
      col(Compiler.ValueCol).as("value"))
    val sampled = vt match {
      case ByteType | ShortType | IntegerType | LongType =>
        StreamingIngest.greedySampleTyped(
          base.withColumn("value", col("value").cast("long"))
            .as[StreamingIngest.EntryOf[Long]], intervalUs).toDF()
      case _: NumericType =>
        StreamingIngest.greedySampleTyped(
          base.withColumn("value", col("value").cast("double"))
            .as[StreamingIngest.EntryOf[Double]], intervalUs).toDF()
      case other => throw new graft.fql.FqlException(
        s"streaming sample() requires a numeric value column, got ${other.simpleString}")
    }
    sampled.select(
      timestamp_micros(col("t_us")).as(Compiler.TimeCol),
      col("topic").as(Compiler.TopicCol),
      col("value").cast(vt).as(Compiler.ValueCol))
  }
}

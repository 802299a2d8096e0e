package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.api.{LocalClient, RemoteClient}
import graft.engine.ParquetStore
import graft.sources.WireImport
import graft.streaming.StreamingFql

/** The live-migration connection of serve_follow. Each cycle lands one
  * fixed-size events tranche on the `src` store with the engine's bulk
  * append, follows it over the wire into a landing store, and drains the
  * landing store with a checkpointed AvailableNow run of a streaming FQL
  * map through `readStream.format("fossil")` into a parquet sink. Create it
  * before the wire server, which reads the topic registry once. */
final class Follower(spark: SparkSession, dir: String, val events: Data.Events, perTranche: Int) {
  import Follower._

  val srcRoot = s"$dir/source"
  private val landing = s"$dir/landing"
  private val sink = s"$dir/sink"
  private val ckpt = s"$dir/ckpt"
  private val src = new LocalClient(spark, srcRoot)
  src.createTopic("/events", "float64")
  Data.EventTypes.foreach(t => src.createTopic(s"/events/$t", "float64"))

  /** Cycle `i`: (follow result, lag ms from the tranche committed at the
    * source to the end of the drain that made it visible in the sink). */
  def cycle(client: RemoteClient, i: Int, trace: Trace,
      drainStarts: mutable.ArrayBuffer[Long]): (WireImport.Result, Double) =
    trace.op(s"cycle$i", "follow.cycle") {
      val t = events.slice(i * perTranche, (i + 1) * perTranche)
      trace.span("engine.append_frame")(src.appendFrame(t.frame(spark), "float64"))
      val committed = System.nanoTime()
      // nothing else writes to the source between tranches, so each cycle
      // closes the boundary microsecond and the whole tranche lands
      val res = trace.span("sources.follow")(
        WireImport.followOnce(spark, client, landing, closeBoundary = true))
      trace.span("streaming.drain") {
        val out = StreamingFql.query(Fql, spark.readStream.format("fossil").load(landing))
          .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value"))
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", sink)
          .outputMode("append")
        drainStarts += System.currentTimeMillis()
        out.start().awaitTermination()
      }
      (res, (System.nanoTime() - committed) / 1e6)
    }

  /** Failures of the exactly-once check after cycles 0..`last`: the sink
    * must hold every entry of those tranches, mapped, once. */
  def check(last: Int): Seq[String] = {
    val n = (last + 1) * perTranche
    val want = (0 until n).map(i =>
      (events.tUs(i), events.topic(i), 5.0 / 9.0 * (events.value(i) - 32.0))).sortBy(e => (e._1, e._2))
    val got = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sortBy(e => (e._1, e._2))
    val count =
      if (got.size == want.size) Nil
      else Seq(s"follow: sink holds ${got.size} entries after ${last + 1} tranches, expected ${want.size}")
    count ++ got.zip(want).find { case (g, w) =>
      g._1 != w._1 || g._2 != w._2 || math.abs(g._3 - w._3) > 1e-9 * math.max(1.0, math.abs(w._3))
    }.map { case (g, w) => s"follow: sink entry $g, expected $w" }
  }

  def landingFiles: Long = new ParquetStore(spark, landing).segmentCount
}

object Follower {
  val Fql = "all in /events | map F -> 5/9 * (F-32)"
}

package graft.connector

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Queries
import graft.SparkSpec
import graft.api.LocalClient

/** `spark.readStream.format("fossil")` — the DSv2 micro-batch read:
  * checkpointed AvailableNow drains process exactly the files that landed
  * since the previous drain, the combined typing spans schema groups in
  * ONE stream, and offsets round-trip through their JSON form. */
class FossilStreamSpec extends SparkSpec {

  private val fixedClock: () => Long =
    () => java.time.Instant.parse("2025-01-01T00:00:00Z").toEpochMilli * 1000L

  private def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  test("checkpointed drains read each landed file exactly once; final == batch") {
    val root = Queries.scratchDir("graft_mbs")
    val sink = Queries.scratchDir("graft_mbs_sink")
    val ckpt = Queries.scratchDir("graft_mbs_ckpt")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/live", "float64")

    def appendBatch(offset: Int, n: Int): Unit = (0 until n).foreach { i =>
      c.append(s"/live/${if ((offset + i) % 2 == 0) "a" else "b"}",
        (offset + i).toDouble,
        ts(f"2024-04-${offset + i + 1}%02dT00:00:00Z"))
    }

    def sinkCount(): Long = {
      val f = new java.io.File(sink)
      if (!f.exists() || f.listFiles().forall(_.getName.startsWith("_"))) 0L
      else spark.read.parquet(sink).count()
    }

    def drain(): Unit = {
      val q = spark.readStream.format("fossil").load(root)
        .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", sink)
        .outputMode("append").start()
      q.awaitTermination()
    }

    appendBatch(0, 6)
    drain()
    assert(sinkCount() == 6L)
    appendBatch(6, 4) // new files between drains
    drain()
    assert(sinkCount() == 10L)
    drain() // idle drain: checkpoint exactly-once
    assert(sinkCount() == 10L)

    // stream total == the batch connector read == the library path
    val batch = spark.read.format("fossil").load(root)
      .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val streamed = spark.read.parquet(sink)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(streamed.sortBy(r => (r._1, r._2)) == batch.sortBy(r => (r._1, r._2)))
  }

  test("one stream spans mixed-width schema groups at the combined type") {
    val root = Queries.scratchDir("graft_mbs_mix")
    val sink = Queries.scratchDir("graft_mbs_mix_sink")
    val ckpt = Queries.scratchDir("graft_mbs_mix_ckpt")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/w/i32", "int32")
    c.createTopic("/w/i64", "int64")
    c.append("/w/i32", 7, ts("2024-04-01T00:00:00Z"))
    c.append("/w/i64", 9L, ts("2024-04-02T00:00:00Z"))
    val df = spark.readStream.format("fossil").load(root)
    assert(df.isStreaming && df.schema("value").dataType ==
      org.apache.spark.sql.types.LongType)
    val q = df.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", sink)
      .outputMode("append").start()
    q.awaitTermination()
    val vals = spark.read.parquet(sink).orderBy("time")
      .collect().map(_.getLong(2)).toSeq
    assert(vals == Seq(7L, 9L))
  }

  test("prefix and topic pushdown narrow the stream") {
    val root = Queries.scratchDir("graft_mbs_pref")
    val sink = Queries.scratchDir("graft_mbs_pref_sink")
    val ckpt = Queries.scratchDir("graft_mbs_pref_ckpt")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/e", "float64")
    (0 until 8).foreach { i =>
      c.append(s"/e/${if (i % 2 == 0) "x" else "y"}", i.toDouble,
        ts(f"2024-04-${i + 1}%02dT00:00:00Z"))
    }
    val q = spark.readStream.format("fossil")
      .option("prefix", "/e").load(root)
      .filter(col("topic") === "/e/x")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", sink)
      .outputMode("append").start()
    q.awaitTermination()
    val rows = spark.read.parquet(sink).collect()
    assert(rows.length == 4 && rows.forall(_.getString(1) == "/e/x"))
  }

  test("offset JSON round-trips, including escaped path characters") {
    import FossilMicroBatchStream._
    val files = Seq(
      FossilScan.DataFile("/a/b/part-0.parquet", 123L, "/t/one"),
      FossilScan.DataFile("/a/we\"ird\\path.parquet", 7L, "/t/q\"uote"))
    val off = FossilStreamOffset(files)
    val back = parseFiles(off.json())
    assert(back.toSet == files.toSet)
    assert(parseFiles(FossilStreamOffset(Seq.empty).json()).isEmpty)
  }
}

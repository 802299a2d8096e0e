package graft.connector

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Queries
import graft.SparkSpec
import graft.api.LocalClient

/** The `fossil` stream offset as JSON: its exact form, and a restart from
  * a checkpoint whose offsets name a topic with a control character
  * (Spark's offset log keeps one offset per line). */
class FossilStreamJsonSpec extends SparkSpec {

  test("the offset JSON of an ordinary file set is pinned") {
    import FossilMicroBatchStream._
    val off = FossilStreamOffset(Seq(
      FossilScan.DataFile("/s/data/sgroup=k/topic=%2Fb/part-1.parquet", 7L, "/b"),
      FossilScan.DataFile("/s/data/sgroup=k/topic=%2Fa/part-0.parquet", 1234L, "/a")))
    assert(off.json() ==
      """[{"p":"/s/data/sgroup=k/topic=%2Fa/part-0.parquet","l":1234,"t":"/a"},""" +
      """{"p":"/s/data/sgroup=k/topic=%2Fb/part-1.parquet","l":7,"t":"/b"}]""")
    assert(parseFiles(off.json()) == off.files.sortBy(_.path))
  }

  test("a stream over a topic named with a newline restarts from its checkpoint " +
      "and lands each entry exactly once") {
    val root = Queries.scratchDir("graft_mbs_nl")
    val sink = Queries.scratchDir("graft_mbs_nl_sink")
    val ckpt = Queries.scratchDir("graft_mbs_nl_ckpt")
    val c = new LocalClient(spark, root,
      () => java.time.Instant.parse("2025-01-01T00:00:00Z").toEpochMilli * 1000L)
    val topic = "/a\nb"
    c.createTopic(topic, "float64")
    def append(days: Range): Unit = days.foreach { d =>
      c.append(topic, d.toDouble,
        Timestamp.from(java.time.Instant.parse(f"2024-04-$d%02dT00:00:00Z")))
    }
    def drain(): Unit = spark.readStream.format("fossil").load(root)
      .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", sink)
      .outputMode("append").start()
      .awaitTermination()
    def landed(): Seq[(String, Double)] = spark.read.parquet(sink)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq.sortBy(_._2)

    append(1 to 3)
    drain()
    assert(landed() == (1 to 3).map(d => (topic, d.toDouble)))
    append(4 to 5)
    drain()
    assert(landed() == (1 to 5).map(d => (topic, d.toDouble)))
    drain()
    assert(landed() == (1 to 5).map(d => (topic, d.toDouble)))
  }
}

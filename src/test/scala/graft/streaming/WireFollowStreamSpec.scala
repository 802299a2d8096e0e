package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Queries
import graft.SparkSpec
import graft.api.{LocalClient, RemoteClient, WireServer}
import graft.fql.Compiler
import graft.sources.WireImport

/** Live migration + live analytics as ONE path (r16 verdict item 4): a
  * wire source being [[WireImport.followOnce]]'d into a landing store
  * while it keeps appending, with a checkpointed streaming FQL query over
  * [[StreamingIngest.storeStream]] draining the landing store after each
  * cycle — per-cycle streamed counts must equal what that cycle landed,
  * exactly once across cycles, and the final analytics output must equal
  * the batch FQL result over the fully migrated store. */
class WireFollowStreamSpec extends SparkSpec {

  private val fixedClock: Compiler.Clock = () => 1735689600L * 1000000000L

  test("follow cycles feed a checkpointed streaming FQL query: per-cycle " +
      "counts == landed entries, exactly once, final == batch FQL") {
    val srcRoot = Queries.scratchDir("graft_wfs_src")
    val dstRoot = Queries.scratchDir("graft_wfs_dst")
    val sink = Queries.scratchDir("graft_wfs_sink")
    val ckpt = Queries.scratchDir("graft_wfs_ckpt")
    val src = new LocalClient(spark, srcRoot, fixedClock)
    src.createTopic("/live", "float64")
    val t0 = 1735600000L * 1000L // ms
    def appendBatch(offset: Int, n: Int): Unit = (0 until n).foreach { i =>
      src.append(s"/live/${if ((offset + i) % 2 == 0) "a" else "b"}",
        (offset + i).toDouble, new Timestamp(t0 + (offset + i) * 1000L))
    }
    appendBatch(0, 8)

    def sinkRows(): Seq[(Long, String, Double)] = {
      val f = new java.io.File(sink)
      if (!f.exists() || f.listFiles().forall(_.getName.startsWith("_")))
        return Seq.empty
      spark.read.parquet(sink)
        .select("t_us", "topic", "value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq
    }

    /** One AvailableNow drain of the landing store through the FQL map,
      * appending into the shared checkpointed sink. */
    def drain(): Unit = {
      val entries = StreamingIngest.storeStream(spark, dstRoot, "float64")
      val out = StreamingFql.query(
        "all in /live | map x -> x * 2", entries, fixedClock)
      val q = out
        .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", sink)
        .outputMode("append").start()
      q.awaitTermination()
    }

    val server = new WireServer(spark, Map("d" -> srcRoot), "d", fixedClock)
    try {
      val client = new RemoteClient("127.0.0.1", server.port, db = "d")
      try {
        val r1 = WireImport.followOnce(spark, client, dstRoot, pageSize = 3)
        drain()
        val n1 = sinkRows().size.toLong
        assert(n1 == r1.entries, s"cycle 1 streamed $n1, landed ${r1.entries}")

        appendBatch(8, 5) // the source keeps appending between cycles
        val r2 = WireImport.followOnce(spark, client, dstRoot, pageSize = 3)
        drain()
        val n2 = sinkRows().size.toLong
        assert(n2 - n1 == r2.entries,
          s"cycle 2 streamed ${n2 - n1}, landed ${r2.entries}")

        val r3 = WireImport.followOnce(spark, client, dstRoot, pageSize = 3,
          closeBoundary = true)
        drain()
        val n3 = sinkRows().size.toLong
        assert(n3 - n2 == r3.entries)
        assert(n3 == 13L) // every source entry exactly once
        // an idle extra drain re-lands nothing (checkpoint exactly-once)
        drain()
        assert(sinkRows().size.toLong == n3)
      } finally client.close()
    } finally server.close()

    // final analytics == the batch FQL result over the migrated store
    val batch = new LocalClient(spark, dstRoot, fixedClock)
      .query("all in /live | map x -> x * 2")
      .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(sinkRows().sortBy(r => (r._1, r._2)) ==
      batch.sortBy(r => (r._1, r._2)))
  }
}

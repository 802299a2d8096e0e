package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver has regenerated `events.parquet` with two different physical
  * types for `ts` across rounds — INT64 TIMESTAMP(NANOS) (read as raw long
  * nanos) and TIMESTAMP_MICROS. [[Tables.events]] must normalize BOTH to
  * the same frame: µs TimestampType `ts` + epoch-nanos `__t_ns`. Round 9
  * lost 34 battery rows to exactly this drift; this spec freezes the
  * contract by writing the same instants in each encoding and asserting
  * identical normalized output.
  */
class TablesSpec extends SparkSpec {

  // instants with a non-zero sub-millisecond part, plus a pre-epoch row
  private val micros = Seq(1705276800123456L, 1705363200987654L, -500L, 0L)

  private def writeFixture(encode: String): String = {
    val dir = Queries.scratchDir(s"graft_tablesspec_$encode")
    import spark.implicits._
    val rows = micros.zipWithIndex.map { case (us, i) =>
      (i.toLong, us, i.toLong + 100, s"type$i", i * 1.5, "{}")
    }
    val base = rows
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val withTs = encode match {
      case "nanos" => // raw INT64 column named ts, exactly what the legacy
        // TIMESTAMP(NANOS) files look like through nanosAsLong
        base.withColumn("ts", col("us") * 1000L)
      case "micros" =>
        base.withColumn("ts", timestamp_micros(col("us")))
    }
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def collectNormalized(dir: String): Seq[(Long, Long, Long)] =
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("t_us"), col("__t_ns"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
      .toSeq

  test("nanos and micros encodings normalize to identical frames") {
    val nanosDir = writeFixture("nanos")
    val microsDir = writeFixture("micros")
    val a = collectNormalized(nanosDir)
    val b = collectNormalized(microsDir)
    assert(a == b)
    // and the values are exactly the instants we wrote
    val expected = micros.zipWithIndex.map { case (us, i) => (i.toLong, us, us * 1000L) }
    assert(a == expected)
  }

  test("normalized schema is stable across encodings") {
    val d = writeFixture("micros")
    val df = Tables.events(spark, d)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.schema("__t_ns").dataType == LongType)
    val entries = Tables.eventEntries(spark, d)
    assert(entries.columns.toSeq == Seq("time", "topic", "value", "__t_ns"))
  }

  test("a table rewritten in place is re-read, an unchanged one is served from the memo") {
    val dir = Queries.scratchDir("graft_tablesspec_memo")
    import spark.implicits._
    def write(ids: Seq[Long]): Unit =
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    write(Seq(1L, 2L, 3L))
    val first = Tables.read(spark, dir, "t")
    assert(Tables.read(spark, dir, "t") eq first)
    assert(first.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    write(Seq(10L, 11L))
    assert(Tables.read(spark, dir, "t").as[Long].collect().sorted.toSeq == Seq(10L, 11L))

    // the normalized events frame is memoized the same way
    val events = writeFixture("nanos")
    assert(Tables.events(spark, events).count() == micros.size)
    Seq(7L).toDF("event_id").withColumn("ts", timestamp_micros(lit(0L)))
      .withColumn("user_id", lit(1L)).withColumn("event_type", lit("x"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$events/events.parquet")
    assert(Tables.events(spark, events).select("event_id").as[Long].collect().toSeq == Seq(7L))
  }
}

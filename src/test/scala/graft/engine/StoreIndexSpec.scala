package graft.engine

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, TimestampType}

import graft.Queries
import graft.SparkSpec
import graft.api.LocalClient
import graft.fql.Compiler

/** The store's file index: footer-typed time ranges, pruned scans, STATS
  * from footers, and the write rule that lands time as TIMESTAMP_MICROS
  * without touching the caller's session. */
class StoreIndexSpec extends SparkSpec {

  private val fixedClock: Compiler.Clock = () => 1735689600L * 1000000000L // 2025-01-01
  private val DayUs = 86400L * 1000000L
  private val T0 = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  private def ts(us: Long) = org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(us)

  private def withSqlConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A float64 frame `(time, topic, value)` at the given µs offsets from T0. */
  private def frame(topic: String, offsetsUs: Seq[Long], first: Double): DataFrame = {
    import spark.implicits._
    offsetsUs.zipWithIndex.map { case (o, i) => (T0 + o, first + i) }.toDF("us", "value")
      .coalesce(1)
      .select(timestamp_micros(col("us")).as("time"), lit(topic).as("topic"), col("value"))
  }

  private def dataFiles(root: String): Seq[String] =
    Files.walk(Paths.get(root, "data")).iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("/.")).toSeq.sorted

  private def timeType(file: String): String = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
    try {
      val s = r.getFooter.getFileMetaData.getSchema
      s.getType(s.getFieldIndex("time")).toString
    } finally r.close()
  }

  private def rows(df: DataFrame): Seq[(Long, String, Double)] =
    df.select(unix_micros(col("time")), col("topic"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted

  /** STATS as the Spark aggregate over every entry computes it. */
  private def aggregate(store: ParquetStore): Seq[(String, Long, Timestamp, Timestamp)] =
    store.entries("/").groupBy("topic")
      .agg(count(lit(1)), min("time"), max("time")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3)))
      .toSeq.sortBy(_._1)

  private def statsOf(store: ParquetStore): Seq[(String, Long, Timestamp, Timestamp)] =
    store.stats.map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3)))

  /** The scan's files: how many the executed scan read, after `collect`. */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec =>
      s.metrics("numFiles").value
    }.sum
  }

  test("new store files land time as INT64 TIMESTAMP(MICROS) on every write path") {
    val root = Queries.scratchDir("graft_idx_micros")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/m", "float64")
    c.appendBatch(Seq(Row(ts(T0), "/m/a", 1.0)), "float64") // driver landing
    c.appendFrame(frame("/m/b", Seq(0L, 5L), 2.0), "float64") // Spark write
    val landed = dataFiles(root)
    assert(landed.size == 2)
    landed.foreach(f => assert(timeType(f).contains("int64 time (TIMESTAMP(MICROS,true))"), f))
    c.compact()
    val compacted = dataFiles(root)
    assert(compacted.size == 2 && compacted != landed)
    compacted.foreach(f => assert(timeType(f).contains("TIMESTAMP(MICROS,true)"), f))
    // a session that names a time type itself keeps it
    withSqlConf("spark.sql.parquet.outputTimestampType", "INT96") {
      c.appendBatch(Seq(Row(ts(T0 + 1), "/m/a", 3.0)), "float64")
    }
    assert(dataFiles(root).diff(compacted).map(timeType).exists(_.contains("int96")))
  }

  test("a mixed INT96/MILLIS/MICROS store reads identically and STATS equals the aggregate, " +
      "through appends, compaction and a foreign file") {
    val root = Queries.scratchDir("graft_idx_mixed")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/x", "float64")
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
    def landFrame(topic: String, offsets: Seq[Long], first: Double, timeType: Option[String]) = {
      def write() = c.appendFrame(frame(topic, offsets, first), "float64")
      timeType.fold(write())(withSqlConf("spark.sql.parquet.outputTimestampType", _)(write()))
      expected ++= offsets.zipWithIndex.map { case (o, i) => (T0 + o, topic, first + i) }
    }
    landFrame("/x/a", Seq(0L, DayUs), 0.0, Some("INT96"))
    landFrame("/x/a", Seq(2 * DayUs + 1000L, 2 * DayUs + 2000L), 10.0, Some("TIMESTAMP_MILLIS"))
    landFrame("/x/b", Seq(3 * DayUs, 4 * DayUs), 20.0, None)
    val store = new ParquetStore(spark, root)
    def check(stage: String): Unit = {
      assert(rows(store.entries("/")) == expected.sorted, stage)
      assert(rows(c.query("all in /x/a")) == expected.filter(_._2 == "/x/a").sorted, stage)
      assert(statsOf(store) == aggregate(store), stage)
      assert(c.stats == store.stats, stage)
    }
    check("landed")
    assert(statsOf(store).map(_._2) == Seq(4L, 2L))

    // a driver-side append and a Spark append to both topics
    c.appendBatch(Seq(Row(ts(T0 + 5 * DayUs), "/x/a", 30.0), Row(ts(T0 - DayUs), "/x/b", 31.0)),
      "float64")
    expected ++= Seq((T0 + 5 * DayUs, "/x/a", 30.0), (T0 - DayUs, "/x/b", 31.0))
    check("driver append")
    landFrame("/x/b", Seq(6 * DayUs), 40.0, None)
    check("frame append")

    // another writer drops an INT96 file into /x/a's directory
    val group = s"$root/data/sgroup=${ParquetStore.schemaKey(FossilSchema.SFloat64)}"
    withSqlConf("spark.sql.parquet.outputTimestampType", "INT96") {
      frame("/x/a", Seq(7 * DayUs), 50.0).write.mode(SaveMode.Append).partitionBy("topic")
        .parquet(group)
    }
    expected += ((T0 + 7 * DayUs, "/x/a", 50.0))
    check("foreign file")

    c.compact()
    check("compacted")
    // compaction rewrote every file as MICROS: STATS is footer-only now
    assert(jobsDuring(store.stats) == 0)
  }

  test("a between window's scan opens only the files it overlaps") {
    val root = Queries.scratchDir("graft_idx_prune")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/p", "float64")
    // four files of /p/a, one day each; one of /p/b
    (0 until 4).foreach { d =>
      c.appendBatch((0 until 3).map(h => Row(ts(T0 + d * DayUs + h * 3600000000L), "/p/a",
        d * 10.0 + h)), "float64")
    }
    c.appendBatch(Seq(Row(ts(T0 + DayUs), "/p/b", -1.0)), "float64")
    val store = new ParquetStore(spark, root)
    val engine = new FossilEngine(spark, store, fixedClock)
    val all = rows(store.entries("/"))
    val day2 = engine.query("all in /p/a between ~(2024/01/02), ~(2024/01/02) + @hour * 6")
    val p0 = store.filesPruned
    assert(filesRead(day2) == 1)
    assert(store.filesPruned - p0 == 3)
    assert(rows(day2) == all.filter(r => r._2 == "/p/a" && r._1 >= T0 + DayUs &&
      r._1 <= T0 + DayUs + 6 * 3600000000L))
    // a caller's own time filter prunes the same way, across topics
    val late = store.entries("/").filter(col("time") > lit(ts(T0 + 2 * DayUs + 1)))
    assert(filesRead(late) == 2)
    assert(rows(late) == all.filter(_._1 > T0 + 2 * DayUs + 1))
    // no time bound: every file
    assert(filesRead(engine.query("all in /p")) == 5)
  }

  test("STATS on an all-MICROS store starts no Spark job") {
    val root = Queries.scratchDir("graft_idx_stats")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/s", "float64")
    c.appendBatch(Seq(Row(ts(T0 + 5), "/s/b", 1.0), Row(ts(T0 + 9), "/s/b", 2.0),
      Row(ts(T0), "/s/a", 3.0)), "float64")
    c.appendFrame(frame("/s/a", Seq(-7L, 4L), 4.0), "float64")
    c.createTopic("/s/empty", "float64")
    val store = new ParquetStore(spark, root)
    var got: Seq[Row] = Nil
    assert(jobsDuring { got = c.stats } == 0)
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))) ==
      Seq(("/s/a", 3L, ts(T0 - 7), ts(T0 + 4)), ("/s/b", 2L, ts(T0 + 5), ts(T0 + 9))))
    assert(statsOf(store) == aggregate(store))
    // footers are read once per file: a second STATS reads none
    val reads = store.footerReads
    store.stats
    assert(store.footerReads == reads)
  }

  test("repeated queries over unchanged files reuse one relation; a new file rebuilds it") {
    val root = Queries.scratchDir("graft_idx_memo")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/r", "float64")
    c.appendBatch(Seq(Row(ts(T0), "/r/a", 1.0)), "float64")
    val store = new ParquetStore(spark, root)
    val first = store.entries("/r")
    assert(store.entries("/r") eq first)
    c.appendBatch(Seq(Row(ts(T0 + 1), "/r/a", 2.0)), "float64")
    val second = store.entries("/r")
    assert(!(second eq first))
    assert(rows(first).size == 1 && rows(second).size == 2)
  }

  test("writes, reads and STATS leave the caller's SQL and Hadoop conf untouched") {
    val root = Queries.scratchDir("graft_idx_conf")
    def sqlConf() = spark.conf.getAll
    def hadoopConf() = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val (sql0, hadoop0) = (sqlConf(), hadoopConf())
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/c", "float64")
    c.appendBatch(Seq(Row(ts(T0), "/c/a", 1.0)), "float64")
    c.appendFrame(frame("/c/b", Seq(3L), 2.0), "float64")
    c.query("all in /c since ~(2024/01/01)").collect()
    c.stats
    c.compact()
    assert(sqlConf() == sql0)
    val hadoop1 = hadoopConf()
    val changed = (hadoop0.keySet ++ hadoop1.keySet).filter(k => hadoop0.get(k) != hadoop1.get(k))
    assert(changed.isEmpty, s"Hadoop conf keys changed: ${changed.toSeq.sorted}")
  }

  test("timeBounds reads inclusive µs bounds from time comparisons only") {
    val t = AttributeReference("time", TimestampType)()
    val v = AttributeReference("value", DoubleType)()
    def us(x: Long) = Literal(x, TimestampType)
    assert(StoreIndex.timeBounds(Seq(GreaterThanOrEqual(t, us(5)), LessThanOrEqual(t, us(9)))) == ((5L, 9L)))
    assert(StoreIndex.timeBounds(Seq(And(GreaterThan(t, us(5)), LessThan(t, us(9))))) == ((6L, 8L)))
    // literal on the left flips the comparison
    assert(StoreIndex.timeBounds(Seq(LessThan(us(5), t))) == ((6L, Long.MaxValue)))
    // other columns and non-timestamp literals do not bound time
    assert(StoreIndex.timeBounds(Seq(GreaterThan(v, Literal(1.0)))) == ((Long.MinValue, Long.MaxValue)))
    assert(StoreIndex.timeBounds(Seq(GreaterThan(t, us(Long.MaxValue)))) == ((Long.MaxValue, Long.MaxValue)))
  }
}

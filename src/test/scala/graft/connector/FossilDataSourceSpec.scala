package graft.connector

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec
import graft.api.LocalClient

/** The DSv2 front door: `spark.read.format("fossil")` over ParquetStore
  * roots — schema exposure, result identity with the library path, topic
  * directory pruning, time/topic/column pushdown, mixed-schema widening,
  * array and composite values, the ambiguous (opaque) view, and the
  * read-only version gate. */
class FossilDataSourceSpec extends SparkSpec {

  private val fixedClock: () => Long =
    () => java.time.Instant.parse("2025-01-01T00:00:00Z").toEpochMilli * 1000L

  private def newRoot(tag: String): String =
    Files.createTempDirectory(s"graft_dsv2_$tag").toString

  private def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  /** Small two-topic float64 store with a known time spread. */
  private def floatStore(): String = {
    val root = newRoot("f64")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/m", "float64")
    (0 until 20).foreach { i =>
      c.append(s"/m/${if (i % 2 == 0) "a" else "b"}", i.toDouble,
        ts(f"2024-01-${i + 1}%02dT00:00:00Z"))
    }
    root
  }

  private def readFossil(root: String, prefix: String = "/"): DataFrame = {
    val r = spark.read.format("fossil")
    (if (prefix == "/") r else r.option("prefix", prefix)).load(root)
  }

  private def scanOf(df: DataFrame): FossilScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "no BatchScanExec in plan:\n" +
      df.queryExecution.executedPlan.toString)
    scans.head.asInstanceOf[FossilScan]
  }

  test("schema exposure + scan_all identical to the library entries path") {
    val root = floatStore()
    val df = readFossil(root)
    assert(df.schema == StructType(Seq(
      StructField("time", TimestampType, nullable = false),
      StructField("topic", StringType, nullable = false),
      StructField("value", DoubleType, nullable = true))))
    val lib = new graft.engine.ParquetStore(spark, root).entries("/")
      .orderBy("time", "topic").collect().toSeq
    val dsv2 = df.orderBy("time", "topic").collect().toSeq
    assert(dsv2 == lib)
    assert(dsv2.size == 20)
  }

  test("prefix option + topic equality filter prune partition directories") {
    val root = floatStore()
    val one = readFossil(root).filter(col("topic") === "/m/a")
    val scan = scanOf(one)
    // only /m/a's directory was listed: every planned partition is /m/a
    val parts = scan.planInputPartitions().map(_.asInstanceOf[FossilInputPartition])
    assert(parts.nonEmpty &&
      parts.forall(_.file.partitionValues.getUTF8String(0).toString == "/m/a"))
    assert(one.count() == 10)
    assert(scan.description().contains("PushedFilters: ["))
    assert(scan.description().contains("topic"))
    // prefix narrows the same way before filters even apply
    val pref = readFossil(root, prefix = "/m/b")
    assert(pref.select("topic").distinct().collect().map(_.getString(0)).toSeq
      == Seq("/m/b"))
  }

  test("time range pushdown: bounds land in the scan; results exact") {
    val root = floatStore()
    val df = readFossil(root).filter(
      col("time") >= lit(ts("2024-01-05T00:00:00Z")) &&
        col("time") < lit(ts("2024-01-11T00:00:00Z")))
    val scan = scanOf(df)
    assert(scan.description().contains("GreaterThanOrEqual(time"))
    assert(scan.description().contains("LessThan(time"))
    // days 5..10 inclusive-exclusive → i = 4..9
    val got = df.select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(4.0, 5.0, 6.0, 7.0, 8.0, 9.0))
  }

  test("a windowed scan plans only the files whose time range meets the window") {
    // four one-day files of /w/a, each with a row at 00:00 and at 18:00
    val root = newRoot("window")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/w", "float64")
    (1 to 4).foreach { d =>
      c.appendBatch(Seq(Row(ts(f"2024-02-$d%02dT00:00:00Z"), "/w/a", d.toDouble),
        Row(ts(f"2024-02-$d%02dT18:00:00Z"), "/w/a", d + 0.5)), "float64")
    }
    val window = col("time").between(lit(ts("2024-02-02T00:00:00Z")), lit(ts("2024-02-02T12:00:00Z")))
    val df = readFossil(root).filter(window)
    val scan = scanOf(df)
    assert(scan.planInputPartitions().length == 1)
    assert(scan.description().contains("files=1/4"), scan.description())
    val lib = new graft.engine.ParquetStore(spark, root).entries("/").filter(window)
    assert(df.orderBy("time").collect().toSeq == lib.orderBy("time").collect().toSeq)
    assert(df.collect().map(_.getDouble(2)).toSeq == Seq(2.0))
    // without a window every file is planned
    assert(scanOf(readFossil(root)).planInputPartitions().length == 4)
  }

  test("column pruning: value-only projection reads without time/topic") {
    val root = floatStore()
    val df = readFossil(root).select("value")
    assert(scanOf(df).readSchema().fieldNames.toSeq == Seq("value"))
    assert(df.collect().map(_.getDouble(0)).sorted.toSeq == (0 until 20).map(_.toDouble))
    // count-only path: no file columns at all
    assert(readFossil(root).count() == 20)
    val topicsOnly = readFossil(root).select("topic")
    assert(scanOf(topicsOnly).readSchema().fieldNames.toSeq == Seq("topic"))
    assert(topicsOnly.collect().map(_.getString(0)).count(_ == "/m/a") == 10)
  }

  test("mixed int widths widen to the combined type, like the library path") {
    val root = newRoot("widen")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/w/i32", "int32")
    c.createTopic("/w/i64", "int64")
    c.append("/w/i32", 7, ts("2024-01-01T00:00:00Z"))
    c.append("/w/i64", 9L, ts("2024-01-02T00:00:00Z"))
    val df = readFossil(root)
    assert(df.schema("value").dataType == LongType)
    assert(df.orderBy("time").collect().map(_.getLong(2)).toSeq == Seq(7L, 9L))
  }

  test("array and composite values round-trip through the connector") {
    val root = newRoot("nest")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/vec", "[3]float64")
    c.createTopic("/pt", "{x: int64, y: float64}")
    c.append("/vec", Seq(1.0, 2.0, 3.0), ts("2024-01-01T00:00:00Z"))
    c.append("/pt", Row(4L, 2.5), ts("2024-01-01T00:00:00Z")) // fields sorted: x, y
    val vec = readFossil(root, prefix = "/vec").collect()
    assert(vec.length == 1 && vec(0).getSeq[Double](2) == Seq(1.0, 2.0, 3.0))
    val pt = readFossil(root, prefix = "/pt").collect()
    val struct = pt(0).getStruct(2)
    assert(struct.getLong(struct.fieldIndex("x")) == 4L)
    assert(struct.getDouble(struct.fieldIndex("y")) == 2.5)
  }

  test("two topics sharing one composite schema read back TYPED (r17 advice)") {
    // combine(c, c) is ambiguous for composites by the reference's pairwise
    // rule — the combined view must dedupe schemas first, like the library
    // path, or identical-composite siblings silently null out
    val root = newRoot("twincomp")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/pts/a", "{x: int64, y: float64}")
    c.createTopic("/pts/b", "{x: int64, y: float64}")
    c.append("/pts/a", Row(1L, 1.5), ts("2024-01-01T00:00:00Z"))
    c.append("/pts/b", Row(2L, 2.5), ts("2024-01-02T00:00:00Z"))
    val df = readFossil(root, prefix = "/pts")
    assert(df.schema("value").dataType.isInstanceOf[StructType],
      s"expected typed struct, got ${df.schema("value").dataType}")
    val rows = df.orderBy("time").collect()
    assert(rows.length == 2 && rows.forall(!_.isNullAt(2)))
    assert(rows.map(_.getStruct(2).getLong(0)).toSeq == Seq(1L, 2L))
    // identity with the library path holds for the twin-composite case
    val lib = new graft.engine.ParquetStore(spark, root).entries("/pts")
      .orderBy("time", "topic").collect().toSeq
    assert(df.orderBy("time", "topic").collect().toSeq == lib)
  }

  test("ambiguous mixed-schema prefix reads as null binary, like entries()") {
    val root = newRoot("ambig")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/x/num", "float64")
    c.createTopic("/x/flag", "boolean")
    c.append("/x/num", 1.5, ts("2024-01-01T00:00:00Z"))
    c.append("/x/flag", true, ts("2024-01-02T00:00:00Z"))
    val df = readFossil(root)
    assert(df.schema("value").dataType == BinaryType)
    val rows = df.orderBy("time").collect()
    assert(rows.length == 2 && rows.forall(_.isNullAt(2)))
    // narrowing the prefix to a uniform schema restores the typed view
    assert(readFossil(root, prefix = "/x/num").schema("value").dataType == DoubleType)
  }

  test("newer on-disk format refuses by name; no migration stamp written") {
    val root = newRoot("ver")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/t", "int64")
    val sidecar = java.nio.file.Paths.get(root, "catalog.json")
    val bumped = new String(Files.readAllBytes(sidecar), "UTF-8")
      .replace("\"__format_version\": \"2\"", "\"__format_version\": \"99\"")
    Files.write(sidecar, bumped.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { readFossil(root).schema }
    assert(e.getMessage.contains("99"))
    // the read attempt must not have rewritten the sidecar
    assert(new String(Files.readAllBytes(sidecar), "UTF-8").contains("\"99\""))
  }

  /** Run `body` with the session SQL conf `key` set to `value`, then put
    * back what the session had (set or unset). */
  private def withSqlConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("millisecond and INT96 time columns filter exactly, like entries()") {
    // one store file with TIMESTAMP_MILLIS time, one with INT96; the
    // bounds fall inside a millisecond and on its edges. Spark's reader
    // prunes row groups of the MILLIS file by its stats and none of the
    // INT96 file; the residual filter makes both exact.
    val root = newRoot("tunit")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/tu", "int64")
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    def land(outputType: String, offsetsUs: Seq[Long], firstValue: Long): Unit =
      withSqlConf("spark.sql.parquet.outputTimestampType", outputType) {
        import spark.implicits._
        c.appendFrame(offsetsUs.zipWithIndex.map { case (o, i) => (base + o, firstValue + i) }
          .toDF("us", "value").coalesce(1)
          .select(timestamp_micros(col("us")).as("time"), lit("/tu").as("topic"),
            col("value")), "int64")
      }
    land("TIMESTAMP_MILLIS", Seq(1000L, 2000L, 3000L), 0L)
    land("INT96", Seq(1500L, 2000L, 2999L), 10L)
    val timeTypes = Files.walk(java.nio.file.Paths.get(root, "data")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), spark.sparkContext.hadoopConfiguration))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          schema.getType(schema.getFieldIndex("time")).toString
        } finally r.close()
      }
    assert(timeTypes.length == 2 && timeTypes.exists(_.contains("TIMESTAMP(MILLIS")) &&
      timeTypes.exists(_.contains("int96")), timeTypes.mkString("; "))

    def at(offUs: Long) = lit(java.time.Instant.EPOCH.plusNanos((base + offUs) * 1000L))
    val cases: Seq[(String, org.apache.spark.sql.Column, Long => Boolean)] = Seq(
      (">= 1.5ms", col("time") >= at(1500), _ >= 1500),
      (">= 2ms", col("time") >= at(2000), _ >= 2000),
      ("<= 1.5ms", col("time") <= at(1500), _ <= 1500),
      ("<= 2ms", col("time") <= at(2000), _ <= 2000),
      ("< 1.5ms", col("time") < at(1500), _ < 1500),
      ("< 2ms", col("time") < at(2000), _ < 2000),
      ("< 2.5ms", col("time") < at(2500), _ < 2500),
      ("> 1.5ms", col("time") > at(1500), _ > 1500),
      ("> 2ms", col("time") > at(2000), _ > 2000),
      (">= 1.5ms and < 3ms", col("time") >= at(1500) && col("time") < at(3000),
        o => o >= 1500 && o < 3000))
    def rows(df: DataFrame): Seq[(Long, String, Long)] =
      df.select(unix_micros(col("time")), col("topic"), col("value")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    val lib = new graft.engine.ParquetStore(spark, root).entries("/")
    val all = rows(lib)
    assert(all.map(r => r._1 - base) == Seq(1000L, 1500L, 2000L, 2000L, 2999L, 3000L))
    cases.foreach { case (name, p, keep) =>
      val fossil = rows(readFossil(root).filter(p))
      assert(fossil == all.filter(r => keep(r._1 - base)), name)
      assert(fossil == rows(lib.filter(p)), name)
    }
  }

  test("byte-range splits cover a multi-row-group file exactly once") {
    // tiny parquet row groups + a tiny split size force ONE store file to
    // span many ranges — row groups resolve to the range holding their
    // midpoint, so the union must cover every row exactly once (the
    // 100 TB shape: a compacted hot-topic file far bigger than
    // maxPartitionBytes parallelizing across executors)
    val hadoop = spark.sparkContext.hadoopConfiguration
    val oldBlock = hadoop.get("parquet.block.size")
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    hadoop.setInt("parquet.block.size", 1024)
    try {
      val root = newRoot("split")
      val c = new LocalClient(spark, root, fixedClock)
      c.createTopic("/big", "int64")
      import spark.implicits._
      val n = 5000
      c.appendFrame(
        spark.range(n).select(
          org.apache.spark.sql.functions.timestamp_micros(
            col("id") * 1000000L + 1700000000000000L).as("time"),
          org.apache.spark.sql.functions.lit("/big").as("topic"),
          col("id").as("value")),
        "int64")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val df = readFossil(root)
      val parts = scanOf(df).planInputPartitions()
      assert(parts.length > 4, s"expected many byte-range splits, got ${parts.length}")
      assert(df.count() == n)
      assert(df.agg(org.apache.spark.sql.functions.sum("value")).first().getLong(0)
        == n.toLong * (n - 1) / 2) // exactly-once: any dup/drop breaks the sum
    } finally {
      if (oldBlock == null) hadoop.unset("parquet.block.size")
      else hadoop.set("parquet.block.size", oldBlock)
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
    }
  }

  test("topics with escaped path characters read back under their exact names") {
    // Spark's partition writer escapes '%', '=' and '#' in `topic=` dirs
    // (a space stays literal); batch and stream must undo exactly that
    val root = newRoot("esc")
    val odd = "/odd/50% a=b#c d"
    val plain = "/odd/plain"
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/odd", "float64")
    c.append(odd, 1.0, ts("2024-01-01T00:00:00Z")) // driver-side landing
    import spark.implicits._
    c.appendFrame(Seq((ts("2024-01-02T00:00:00Z"), odd, 2.0), // Spark write job
      (ts("2024-01-03T00:00:00Z"), plain, 3.0)).toDF("time", "topic", "value"), "float64")
    def topicValues(df: DataFrame): Seq[(String, Double)] =
      df.select("topic", "value").collect().map(r => (r.getString(0), r.getDouble(1)))
        .toSeq.sorted
    val expected = Seq((odd, 1.0), (odd, 2.0), (plain, 3.0))
    assert(topicValues(readFossil(root)) == expected)
    assert(topicValues(readFossil(root).filter(col("topic") === odd)) ==
      Seq((odd, 1.0), (odd, 2.0)))
    val sink = "graft_dsv2_esc_stream"
    val q = spark.readStream.format("fossil").load(root).writeStream
      .option("checkpointLocation", newRoot("esc_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(sink).outputMode("append").start()
    try q.awaitTermination() finally q.stop()
    assert(topicValues(spark.table(sink)) == expected)
  }

  test("reads leave the caller's Hadoop configuration untouched") {
    // Spark's Parquet reader writes its requested schema into the Hadoop
    // conf it is given; the connector must hand it a copy, per schema group
    val root = newRoot("hconf")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/w/i32", "int32")
    c.createTopic("/w/i64", "int64")
    c.append("/w/i32", 7, ts("2024-01-01T00:00:00Z"))
    c.append("/w/i64", 9L, ts("2024-01-02T00:00:00Z"))
    def snapshot(): Map[String, String] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val before = snapshot()
    assert(readFossil(root).orderBy("time").collect().map(_.getLong(2)).toSeq == Seq(7L, 9L))
    assert(readFossil(root, prefix = "/w/i32").collect().map(_.getInt(2)).toSeq == Seq(7))
    val sink = "graft_dsv2_hconf_stream"
    val q = spark.readStream.format("fossil").load(root).writeStream
      .option("checkpointLocation", newRoot("hconf_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(sink).outputMode("append").start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table(sink).count() == 2L)
    val after = snapshot()
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.isEmpty, s"Hadoop conf keys changed by the reads: ${changed.toSeq.sorted}")
  }

  /** The connector table behind `df` (after `df` has run, its index
    * counts the footers the read needed). */
  private def tableOf(df: DataFrame): FossilTable =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r.table
    }.get.asInstanceOf[FossilTable]

  test("footers are read once per JVM: a second load and a store reader share them") {
    val root = floatStore()
    val first = readFossil(root)
    assert(first.count() == 20)
    assert(tableOf(first).index.footerReads == 20)
    // a second load over the unchanged store reads no footer
    val second = readFossil(root).filter(col("topic") === "/m/a")
    assert(second.count() == 10)
    assert(tableOf(second).index.footerReads == 0)
    // a store's own reads and the connector's share the facts too
    val other = newRoot("shared")
    val c = new LocalClient(spark, other, fixedClock)
    c.createTopic("/s", "float64")
    (1 to 3).foreach(i => c.append("/s/a", i.toDouble, ts(f"2024-03-$i%02dT00:00:00Z")))
    val store = new graft.engine.ParquetStore(spark, other)
    assert(store.entries("/").count() == 3 && store.footerReads == 3)
    val viaConnector = readFossil(other)
    assert(viaConnector.count() == 3)
    assert(tableOf(viaConnector).index.footerReads == 0)
    // a file landed since is the only footer read
    c.append("/s/a", 4.0, ts("2024-03-04T00:00:00Z"))
    val after = readFossil(other)
    assert(after.count() == 4 && tableOf(after).index.footerReads == 1)
  }

  test("SQL view over the connector composes with plain Spark SQL") {
    val root = floatStore()
    readFossil(root).createOrReplaceTempView("fossil_entries")
    val out = spark.sql(
      "SELECT topic, count(*) AS n, sum(value) AS s FROM fossil_entries " +
        "GROUP BY topic ORDER BY topic").collect()
    assert(out.toSeq == Seq(Row("/m/a", 10L, 90.0), Row("/m/b", 10L, 100.0)))
  }
}

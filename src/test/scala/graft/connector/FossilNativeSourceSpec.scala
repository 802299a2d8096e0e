package graft.connector

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Queries
import graft.SparkSpec
import graft.engine.{Codec, FossilSchema}
import graft.sources.{FossilDatabase, FossilWriter}

/** `format("fossil")` over NATIVE fossil v2 directories: layout
  * auto-detection, typed decode through the shared wire codec, combined
  * widening, the opaque mixed view, WAL-tail inclusion, and topic/time
  * pushdown against the shared scan builder. */
class FossilNativeSourceSpec extends SparkSpec {

  import FossilDatabase.{Datum, Segment}

  private val H = 1700000000000000000L // segment head, epoch ns

  private def enc(ddl: String, v: Any): Array[Byte] =
    Codec.encode(FossilSchema.parse(ddl), v)

  /** v2 dir: / (string), /n/f (float64), /n/i (int32), /s (string);
    * 5 snapshot datums + 1 WAL-tail datum. */
  private def fixture(): String = {
    val dir = Queries.scratchDir("graft_native_dsv2")
    FossilWriter.writeV2(dir,
      topics = Seq("/", "/n/f", "/n/i", "/s"),
      schemas = Seq("string", "float64", "int32", "string"),
      segments = Seq(Segment(H, Vector(
        Datum(1000000000L, 1, enc("float64", 2.5)),
        Datum(2000000000L, 2, enc("int32", 7)),
        Datum(3000000000L, 3, enc("string", "hello")),
        Datum(4000000000L, 1, enc("float64", -1.25)),
        Datum(5000000000L, 2, enc("int32", 40))))),
      sTimeNs = H, segmentSize = 64)
    FossilWriter.appendWal(dir, Seq(
      FossilWriter.walAddEvent(Datum(6000000000L, 1, enc("float64", 9.0)))))
    dir
  }

  private def read(dir: String, prefix: String = "/"): DataFrame = {
    val r = spark.read.format("fossil")
    (if (prefix == "/") r else r.option("prefix", prefix)).load(dir)
  }

  private def scanOf(df: DataFrame): FossilNativeScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    scans.head.asInstanceOf[FossilNativeScan]
  }

  test("native v2 dir auto-detects; numeric prefix widens; WAL tail included") {
    val dir = fixture()
    val df = read(dir, prefix = "/n")
    // float64 + int32 combine to float64
    assert(df.schema("value").dataType == DoubleType)
    val rows = df.orderBy("time").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getDouble(2))).toSeq
    val base = H / 1000000L // head in epoch ms
    assert(rows == Seq(
      (base + 1000L, "/n/f", 2.5),
      (base + 2000L, "/n/i", 7.0),
      (base + 4000L, "/n/f", -1.25),
      (base + 5000L, "/n/i", 40.0),
      (base + 6000L, "/n/f", 9.0))) // ← the WAL-tail event
  }

  test("string prefix reads typed; mixed root is opaque null binary") {
    val dir = fixture()
    val s = read(dir, prefix = "/s").collect()
    assert(s.length == 1 && s(0).getString(2) == "hello")
    val root = read(dir)
    assert(root.schema("value").dataType == BinaryType)
    assert(root.count() == 6 && root.collect().forall(_.isNullAt(2)))
  }

  test("topic and time pushdown reach the native scan; results exact") {
    val dir = fixture()
    val one = read(dir, prefix = "/n").filter(col("topic") === "/n/i")
    val scan = scanOf(one)
    assert(scan.description().contains("topics=1"))
    assert(one.collect().map(_.getDouble(2)).sorted.toSeq == Seq(7.0, 40.0))
    val lo = new Timestamp(H / 1000000L + 3000L)
    val timed = read(dir, prefix = "/n").filter(col("time") >= lit(lo))
    assert(scanOf(timed).description().contains("GreaterThanOrEqual(time"))
    assert(timed.count() == 3)
    // column pruning: value-only projection decodes without time/topic
    val vals = read(dir, prefix = "/n").select("value")
    assert(scanOf(vals).readSchema().fieldNames.toSeq == Seq("value"))
    assert(vals.count() == 5)
  }

  test("result identity with the rawEntries + FossilDecode import path") {
    val dir = fixture()
    val viaConnector = read(dir, prefix = "/n")
      .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value"))
      .orderBy("t_us", "topic").collect().toSeq
    val viaImport = FossilDatabase.rawEntries(spark, dir)
      .filter(col("topic").startsWith("/n"))
      .select(expr("t_ns div 1000").as("t_us"), col("topic"),
        graft.functions.FossilDecode("float64", col("data")).as("value"))
    // int32 datums decode under their own ddl on the import path; mirror
    // the widening by decoding per-topic then casting
    val viaImport2 = FossilDatabase.rawEntries(spark, dir)
      .filter(col("topic").startsWith("/n"))
      .select(expr("t_ns div 1000").as("t_us"), col("topic"),
        when(col("ddl") === "float64",
          graft.functions.FossilDecode("float64", col("data")))
          .otherwise(graft.functions.FossilDecode("int32", col("data"))
            .cast("double")).as("value"))
      .orderBy("t_us", "topic").collect().toSeq
    assert(viaConnector == viaImport2)
    assert(viaImport.columns.length == 3) // silence unused warning path
  }

  test("unknown directory layout refuses loudly") {
    val dir = Queries.scratchDir("graft_not_a_store")
    val e = intercept[IllegalArgumentException] {
      read(dir).schema
    }
    assert(e.getMessage.contains("neither"))
  }
}

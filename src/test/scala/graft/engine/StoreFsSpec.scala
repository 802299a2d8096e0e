package graft.engine

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.Queries
import graft.SparkSpec
import graft.api.LocalClient

/** The Hadoop-FileSystem control plane (r17 verdict item 1): every store
  * operation — catalog sidecar, group-dir existence, compaction swap,
  * segment walk, connector planning — must work against a root expressed
  * as a Hadoop URI, not a `java.nio` path. The spec drives a full store
  * lifecycle over a `file:` URI: `java.nio.Paths.get("file:/x")` treats
  * the scheme as a literal path segment, so ANY remaining nio touch on
  * the control plane either throws or writes to a `./file:` junk dir —
  * both fail this spec. The executor data plane was already
  * Hadoop-routed; with this the whole engine is scheme-agnostic
  * (`s3a://`/`hdfs://` differ only by classpath + credentials). */
class StoreFsSpec extends SparkSpec {

  private val fixedClock: () => Long =
    () => java.time.Instant.parse("2025-01-01T00:00:00Z").toEpochMilli * 1000L

  private def ts(s: String): Timestamp =
    Timestamp.from(java.time.Instant.parse(s))

  /** A store root as a Hadoop `file:` URI (the local filesystem driven
    * through the same FileSystem API an object store would be). */
  private def uriRoot(tag: String): String =
    "file:" + Queries.scratchDir(s"graft_hfs_$tag")

  test("full lifecycle on a file: URI root — create, append, query, reopen") {
    val root = uriRoot("life")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/m", "float64")
    (0 until 12).foreach { i =>
      c.append(s"/m/${if (i % 2 == 0) "a" else "b"}", i.toDouble,
        ts(f"2024-03-${i + 1}%02dT00:00:00Z"))
    }
    assert(c.query("all in /m").count() == 12)
    assert(c.query("all in /m/a").count() == 6)
    // catalog sidecar persisted through the Hadoop path: a fresh client
    // over the same URI root restores the registry
    val c2 = new LocalClient(spark, root, fixedClock)
    assert(c2.listTopics.map(_._1).toSet == Set("/m", "/m/a", "/m/b"))
    assert(c2.query("all in /m").count() == 12)
  }

  test("compact swaps atomically and segmentCount walks on a file: URI root") {
    val root = uriRoot("compact")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/t", "float64")
    (0 until 8).foreach { i => // 8 separate appends → >= 8 files
      c.append("/t", i.toDouble, ts(f"2024-03-${i + 1}%02dT00:00:00Z"))
    }
    val store = new ParquetStore(spark, root)
    val before = store.segmentCount
    assert(before >= 8L)
    val pre = store.entries("/").orderBy("time").collect().toSeq
    val report = store.compact()
    assert(report.nonEmpty && report.forall { case (_, b, a) => a <= b })
    assert(store.segmentCount == 1L)
    assert(store.entries("/").orderBy("time").collect().toSeq == pre)
  }

  test("DSv2 connector plans and reads over a file: URI root, pushdown intact") {
    val root = uriRoot("dsv2")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/e", "float64")
    (0 until 10).foreach { i =>
      c.append(s"/e/${if (i % 2 == 0) "x" else "y"}", i.toDouble,
        ts(f"2024-03-${i + 1}%02dT00:00:00Z"))
    }
    val df = spark.read.format("fossil").load(root)
      .filter(col("topic") === "/e/x")
    assert(df.count() == 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(topic"))
    // identity with the library path, both through the URI root
    val lib = new ParquetStore(spark, root).entries("/")
      .orderBy("time", "topic").collect().toSeq
    val dsv2 = spark.read.format("fossil").load(root)
      .orderBy("time", "topic").collect().toSeq
    assert(dsv2 == lib && dsv2.size == 10)
  }

  test("SQL catalog serves a file: URI root") {
    val root = uriRoot("cat")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/s", "float64")
    c.append("/s/one", 1.0, ts("2024-03-01T00:00:00Z"))
    c.append("/s/two", 2.0, ts("2024-03-02T00:00:00Z"))
    spark.conf.set("spark.sql.catalog.fossil_hfs",
      classOf[graft.connector.FossilCatalog].getName)
    spark.conf.set("spark.sql.catalog.fossil_hfs.db.main", root)
    val rows = spark.sql(
      "SELECT count(*) AS n, sum(value) AS s FROM fossil_hfs.main.s").collect()
    assert(rows.toSeq == Seq(Row(2L, 3.0)))
  }

  test("writeAtomic replaces without a torn read; stamp tracks the swap") {
    val root = uriRoot("atomic")
    StoreFs.mkdirs(root)
    val p = s"$root/marker.json"
    StoreFs.writeAtomic(p, "v1".getBytes("UTF-8"))
    val s1 = StoreFs.stamp(p)
    assert(new String(StoreFs.readBytes(p), "UTF-8") == "v1")
    StoreFs.writeAtomic(p, "longer-v2".getBytes("UTF-8"))
    assert(new String(StoreFs.readBytes(p), "UTF-8") == "longer-v2")
    val s2 = StoreFs.stamp(p)
    assert(s1.isDefined && s2.isDefined && s1.get._2 != s2.get._2)
    assert(StoreFs.stamp(s"$root/absent").isEmpty)
  }
}

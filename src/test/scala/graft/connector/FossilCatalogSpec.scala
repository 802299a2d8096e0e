package graft.connector

import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.Queries
import graft.SparkSpec
import graft.api.LocalClient

/** SQL catalog exposure: topics and prefixes as tables under
  * `fossil.<db>.<path segments>`, namespace listing over the topic tree,
  * and the read-only refusal. */
class FossilCatalogSpec extends SparkSpec {

  private val fixedClock: () => Long =
    () => java.time.Instant.parse("2025-01-01T00:00:00Z").toEpochMilli * 1000L

  private def ts(s: String): Timestamp =
    Timestamp.from(java.time.Instant.parse(s))

  private lazy val root: String = {
    val r = Queries.scratchDir("graft_cat")
    val c = new LocalClient(spark, r, fixedClock)
    c.createTopic("/events", "float64")
    (0 until 6).foreach { i =>
      c.append(s"/events/${if (i % 2 == 0) "click" else "view"}", i.toDouble,
        ts(f"2024-02-${i + 1}%02dT00:00:00Z"))
    }
    c.createTopic("/other", "string")
    c.append("/other", "x", ts("2024-02-01T00:00:00Z"))
    spark.conf.set("spark.sql.catalog.fossil", classOf[FossilCatalog].getName)
    spark.conf.set("spark.sql.catalog.fossil.db.main", r)
    r
  }

  test("SELECT over a topic path and over a prefix; combined typing") {
    root
    val one = spark.sql(
      "SELECT count(*) AS n, sum(value) AS s FROM fossil.main.events.click").collect()
    assert(one.toSeq == Seq(Row(3L, 0.0 + 2 + 4)))
    val pref = spark.sql(
      "SELECT topic, count(*) AS n FROM fossil.main.events GROUP BY topic ORDER BY topic")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pref == Seq(("/events/click", 3L), ("/events/view", 3L)))
    // pushdown flows through the catalog path too
    val plan = spark.sql(
      "SELECT value FROM fossil.main.events WHERE topic = '/events/view'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(topic"))
  }

  test("SHOW NAMESPACES / SHOW TABLES walk the topic tree") {
    root
    val dbs = spark.sql("SHOW NAMESPACES IN fossil").collect().map(_.getString(0))
    assert(dbs.toSeq == Seq("main"))
    // child namespaces dedupe by VALUE: /events/click and /events/view share
    // the 'events' segment — it must list once (r17 advice: Array[String]
    // rows have reference equality, .distinct over them collapses nothing)
    val subns = spark.sql("SHOW NAMESPACES IN fossil.main").collect()
      .map(_.getString(0)).toSeq
    assert(subns == Seq("main.events"), s"expected one deduped namespace, got $subns")
    val tables = spark.sql("SHOW TABLES IN fossil.main").collect()
      .map(_.getString(1)).sorted.toSeq
    assert(tables == Seq("events", "other"))
    val sub = spark.sql("SHOW TABLES IN fossil.main.events").collect()
      .map(_.getString(1)).sorted.toSeq
    assert(sub == Seq("click", "view"))
  }

  test("DESCRIBE EXTENDED surfaces STATS-class table properties") {
    root
    val props = spark.sql("DESCRIBE TABLE EXTENDED fossil.main.events")
      .filter("col_name = 'Table Properties'").collect()
    assert(props.length == 1, "no Table Properties row in DESCRIBE EXTENDED")
    val line = props.head.getString(1)
    // 6 rows across /events/click + /events/view; 3 registered topics
    // under the prefix (/events itself plus the two children)
    assert(line.contains("num_rows=6"), s"properties: $line")
    assert(line.contains("topics=3"), s"properties: $line")
    assert(line.contains("combined_schema=float64"), s"properties: $line")
    // and the scan's estimateStatistics carries exact numRows too
    val scan = spark.sql("SELECT * FROM fossil.main.events")
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.head
    assert(scan.stats.rowCount.contains(BigInt(6)), s"stats: ${scan.stats}")
    // appends to a known topic leave catalog.json alone, so the catalog
    // keeps its table handle across them; its properties still follow
    def otherProps(): String = spark.sql("DESCRIBE TABLE EXTENDED fossil.main.other")
      .filter("col_name = 'Table Properties'").collect().head.getString(1)
    assert(otherProps().contains("num_files=1,num_rows=1"), otherProps())
    val c = new LocalClient(spark, root, fixedClock)
    c.append("/other", "y", ts("2024-02-02T00:00:00Z"))
    c.append("/other", "z", ts("2024-02-03T00:00:00Z"))
    val after = otherProps()
    assert(after.contains("num_files=3,num_rows=3"), after)
    assert(spark.sql("SELECT count(*) FROM fossil.main.other").collect().head.getLong(0) == 3L)
  }

  test("read-only: DDL refuses by name; unknown table errors") {
    root
    val e = intercept[Exception] {
      spark.sql("DROP TABLE fossil.main.events.click")
    }
    assert(e.getMessage.contains("READ-ONLY"))
    intercept[Exception] {
      spark.sql("SELECT * FROM fossil.main.nosuch").collect()
    }
    ()
  }
}

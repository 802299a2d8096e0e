package graft

import org.apache.spark.sql.functions._

/** The preflight exists to turn silent fixture drift into one named line
  * (round 9: a ts-unit change cost 34 battery rows with no direct
  * diagnostic). Freeze both directions: a conforming dir produces zero
  * diagnostics; a drifted/missing column produces a diagnostic that NAMES
  * the table and column.
  */
class PreflightSpec extends SparkSpec {

  test("driver fixtures pass clean") {
    assert(Preflight.check(spark, "/root/testdata/sf0.001").isEmpty)
  }

  test("a retyped column and a missing column are named") {
    import spark.implicits._
    val dir = Queries.scratchDir("graft_preflight")
    // region with r_name retyped to long and r_regionkey missing
    Seq((1L, 2L)).toDF("r_name", "other")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val drifts = Preflight.check(spark, dir)
    assert(drifts.exists(d => d.startsWith("region.r_name:") && d.contains("got bigint")))
    assert(drifts.exists(_.startsWith("region.r_regionkey: MISSING")))
    // every other table is unreadable in the scratch dir — also named
    assert(drifts.exists(_.startsWith("events: UNREADABLE")))
  }

  test("an absorbed ts encoding is not flagged") {
    import spark.implicits._
    val dir = Queries.scratchDir("graft_preflight_ts")
    // raw int64 nanos — the legacy encoding Tables.events absorbs
    Seq((1L, 1705276800123456789L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val drifts = Preflight.check(spark, dir)
    assert(!drifts.exists(_.startsWith("events.")))
  }
}

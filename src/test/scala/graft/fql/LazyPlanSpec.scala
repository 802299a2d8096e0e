package graft.fql

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}

import graft.Queries
import graft.SparkSpec
import graft.api.LocalClient
import graft.engine.ParquetStore

/** Compiling an FQL query builds one lazy plan: no Spark job runs until the
  * caller's action, whatever the shape (scan, window, pipeline, aggregate,
  * `sample`, general fold). */
class LazyPlanSpec extends SparkSpec {

  private val clock: Compiler.Clock = () => 1735689600L * 1000000000L // 2025-01-01

  /** Two float64 topics over four files each: an entry every 10 minutes
    * from 2024-12-31, /lp/a cycling 1, 2, 3 and /lp/b always 2. */
  private lazy val client: LocalClient = {
    val root = Queries.scratchDir("graft_lazy_plan")
    val c = new LocalClient(spark, root, clock)
    c.createTopic("/lp", "float64")
    def at(i: Int) = new Timestamp(1735603200000L + i * 600000L)
    for (batch <- 0 until 4)
      c.appendBatch((0 until 10).flatMap { j =>
        val i = batch * 10 + j
        Seq(Row(at(i), "/lp/a", 1.0 + i % 3), Row(at(i), "/lp/b", 2.0))
      }, "float64")
    assert(new ParquetStore(spark, root).segmentCount >= 8)
    c
  }

  private def values(df: DataFrame): Seq[Double] =
    df.select("value").collect().map(_.getDouble(0)).toSeq.sorted

  test("compiling an FQL query runs no Spark job") {
    val shapes: Seq[(String, Seq[Double])] = Seq(
      "all in /lp" -> (Seq.fill(14)(1.0) ++ Seq.fill(13 + 40)(2.0) ++ Seq.fill(13)(3.0)),
      "all in /lp since ~(2024/12/31) + @hour * 6" -> Seq(1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 2.0, 3.0),
      "all in /lp between ~(2024/12/31) + @hour, ~(2024/12/31) + @hour + @minute * 10" ->
        Seq(1.0, 2.0, 2.0, 2.0),
      "all in /lp | filter v -> v > 2 | map x -> x * 2" -> Seq.fill(13)(6.0),
      "all in /lp | reduce a, b -> a + b" -> Seq(14 * 1.0 + 13 * 2.0 + 13 * 3.0 + 40 * 2.0),
      // sample keeps minutes 0, 60, ..., 360 of each topic: /lp/a's kept
      // entries all hold 1 (i % 3 == 0), /lp/b's hold 2
      "sample(@hour) in /lp" -> (Seq.fill(7)(1.0) ++ Seq.fill(7)(2.0)),
      "sample(@hour) in /lp | filter v -> v > 1 | map x -> x * 2" -> Seq.fill(7)(4.0),
      // 2^13 · 3^13 from /lp/a, 2^40 from /lp/b: exact in any fold order
      "all in /lp | reduce a, b -> a * b" -> Seq((BigInt(6).pow(13) << 40).toDouble),
      "sample(@hour) in /lp | reduce a, b -> a * b" -> Seq(128.0))
    for ((fql, want) <- shapes) {
      var df: DataFrame = null
      assert(jobsDuring { df = client.query(fql) } == 0, fql)
      assert(values(df) == want, fql)
    }
  }
}

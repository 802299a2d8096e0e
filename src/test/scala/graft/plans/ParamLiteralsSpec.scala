package graft.plans

import java.time.{Instant, LocalDate}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal, Round}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Queries
import graft.SparkSpec

/** Filter constants reach generated code as references: plans that differ
  * only in a constant share one generated source, and run to the rows the
  * unrewritten plan gives. */
class ParamLiteralsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Instant.parse(s)
  private def day(s: String) = LocalDate.parse(s)

  // one file, one partition: row order is the file's
  private lazy val table: DataFrame = {
    val dir = s"${Queries.scratchDir("graft_param_literals")}/t"
    Seq[(Option[Instant], Option[Long], Double, Option[Int], Option[LocalDate])](
      (Some(ts("1969-12-31T23:59:59.500Z")), Some(-3L), -0.0, Some(-3), Some(day("1969-12-31"))),
      (Some(ts("1970-01-01T00:00:00Z")), Some(0L), 0.0, Some(0), Some(day("1970-01-01"))),
      (Some(ts("1900-06-01T12:00:00Z")), Some(Long.MinValue), Double.NegativeInfinity,
        Some(Int.MinValue), Some(day("1900-06-01"))),
      (Some(ts("2025-01-01T00:00:00Z")), Some(7L), 1.5, Some(7), Some(day("2025-01-01"))),
      (Some(ts("2262-01-01T00:00:00Z")), Some(Long.MaxValue), Double.PositiveInfinity,
        Some(Int.MaxValue), Some(day("2262-01-01"))),
      (None, None, Double.NaN, None, None))
      .toDF("ts", "l", "d", "i", "dt").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def plan(cond: Column): SparkPlan = table.filter(cond).queryExecution.executedPlan

  /** The generated source of every whole-stage codegen stage in `p`. */
  private def source(p: SparkPlan): String =
    p.collect { case w: WholeStageCodegenExec => w.doCodeGen()._2.body }.mkString("\n")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val cases: Seq[(String, String, Seq[Any])] = Seq(
    ("timestamp", "ts", Seq(ts("2000-01-01T00:00:00Z"), ts("1969-12-31T23:59:59.500Z"),
      ts("1900-06-01T12:00:00Z"), ts("1969-12-31T23:59:59.999999Z"))),
    ("long", "l", Seq(0L, -3L, Long.MinValue, Long.MaxValue)),
    ("double", "d", Seq(1.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)),
    ("int", "i", Seq(0, -3, Int.MinValue, Int.MaxValue)),
    ("date", "dt", Seq(day("2000-01-01"), day("1969-12-31"), day("1900-06-01"))))

  for ((name, column, constants) <- cases) {
    test(s"$name constants: one generated source, the unrewritten plan's rows") {
      def cond(c: Any) = col(column) > lit(c) || col(column) === lit(c)
      val plans = constants.map(c => plan(cond(c)))
      val rewritten = plans.map(ParamLiterals(_))
      // the rewrite is what makes the sources equal: unrewritten, they differ
      assert(source(plans(0)) != source(plans(1)))
      val first = source(rewritten.head)
      rewritten.tail.foreach(p => assert(source(p) == first))
      rewritten.foreach { p =>
        val conds = p.collect { case f: FilterExec => f.condition }
        assert(conds.exists(_.exists(_.isInstanceOf[ParamLiteral])), conds)
      }
      val want = plans.map(_.executeCollect().toSeq)
      assert(want.exists(_.nonEmpty) && want.distinct.size > 1, want)
      assert(rewritten.head.executeCollect().toSeq == want.head)
      val before = compiles
      val got = rewritten.tail.map(_.executeCollect().toSeq)
      assert(compiles == before, "a rewritten plan compiled a new class")
      assert(got == want.tail)
    }
  }

  test("scan filters keep their literals; literals outside a comparison stay") {
    val p = plan(round(col("d"), 1) > lit(-1.0) && col("i").isin(-3, 0, 7) && col("l") < lit(5L))
    val rewritten = ParamLiterals(p)
    def scans(q: SparkPlan) = q.collect { case s: FileSourceScanExec => s }
    assert(scans(p).nonEmpty && scans(rewritten).zip(scans(p)).forall { case (a, b) => a eq b })
    assert(scans(p).flatMap(_.dataFilters).forall(!_.exists(_.isInstanceOf[ParamLiteral])))
    val Seq(cond) = rewritten.collect { case f: FilterExec => f.condition }
    assert(cond.exists { case Round(_, Literal(1, _), _) => true; case _ => false }, cond)
    assert(cond.collect { case p: ParamLiteral => p.value }.toSet == Set(-1.0, 5L), cond)
    val want = p.executeCollect().toSeq
    assert(want.size == 2 && rewritten.executeCollect().toSeq == want)
  }

  test("null literals and adaptive plans pass through untouched") {
    val child = spark.range(3).queryExecution.executedPlan
    val nullCmp = FilterExec(EqualTo(child.output.head, Literal(null, LongType)), child)
    assert(ParamLiterals(nullCmp) eq nullCmp)
    val adaptive = table.filter(col("l") > lit(0L)).groupBy("i").count().queryExecution.executedPlan
    assert(adaptive.isInstanceOf[AdaptiveSparkPlanExec])
    assert(ParamLiterals(adaptive) eq adaptive)
  }
}

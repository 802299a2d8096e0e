package graft.fql

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.{Catalog, FossilEngine}

/** Result-level FQL semantics on controlled data: the reference's documented
  * behaviors (truthiness, float division, tuple/composite flow) with exact
  * expected values. */
class FqlSemanticsSpec extends SparkSpec {
  import spark.implicits._

  private def eng(values: Double*): FossilEngine = {
    val df = values.zipWithIndex.map { case (v, i) =>
      (Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"), "/t", v)
    }.toDF("time", "topic", "value")
    val c = new Catalog; c.createDdl("/t", "float64")
    FossilEngine.over(df, c, () => 1735689600L * 1000000000L)
  }

  private def vals(q: String, e: FossilEngine): Seq[Double] =
    e.query(q).orderBy("time").select(col("value").cast("double"))
      .as[Double].collect().toSeq

  test("filter truthiness: numeric != 0 is true (value.go:326-337)") {
    assert(vals("all | map x -> x - 2 | filter v -> v", eng(1, 2, 3)) == Seq(-1.0, 1.0))
  }

  test("/ always yields float, even int/int (value.go:436)") {
    assert(vals("all | map x -> 7 / 2 + x - x", eng(5)) == Seq(3.5))
  }

  test("int arithmetic stays exact until a float appears") {
    assert(vals("all | map x -> 3 * 4 + 1 + x - x", eng(0)) == Seq(13.0))
  }

  test("unary minus and grouping precedence") {
    assert(vals("all | map x -> -(x + 1) * 2", eng(3)) == Seq(-8.0))
  }

  test("tuple flows: construct, multi-arg bind, subscript") {
    assert(vals("all | map x -> 1, x * 2 | map a, b -> a + b", eng(10)) == Seq(21.0))
    assert(vals("all | map x -> 1, x * 2 | map t -> t[1]", eng(10)) == Seq(20.0))
  }

  test("composite construct and key access") {
    assert(vals("all | map x -> \"a\": x, \"b\": x * 2 | map c -> c[\"a\"] + c[b]",
      eng(7)) == Seq(21.0))
  }

  test("!= works (reference bug E7 fixed: evaluator panicked)") {
    assert(vals("all | filter v -> v != 2", eng(1, 2, 3)) == Seq(1.0, 3.0))
  }

  test("max/min over scalars; len/pow exist (reference bug E15 fixed)") {
    assert(vals("all | map x -> max(x, 2)", eng(1, 5)) == Seq(2.0, 5.0))
    assert(vals("all | map x -> pow(x, 2)", eng(3)) == Seq(9.0))
  }

  test("ln follows Go math.Log: NaN below zero, -Inf at zero, defined above") {
    // Spark's log would return NULL for x <= 0, silently dropping rows from
    // compiled filters — the compiler branches around it (found by fuzzing)
    val got = vals("all | map x -> ln(x)", eng(-1, 0, 1))
    assert(got(0).isNaN)
    assert(got(1).isNegInfinity)
    assert(got(2) == 0.0)
    // and NaN comparisons behave identically through filters on both paths:
    // total order puts NaN greatest, so ln(-1) > 100 holds
    assert(vals("all | filter x -> ln(x) > 100", eng(-1.0, 5.0)) == Seq(-1.0))
  }

  test("round is HALF_UP away from zero; NaN and infinities pass through") {
    assert(vals("all | map x -> round(x)", eng(-2.5, -0.5, 0.5, 2.5))
      == Seq(-3.0, -1.0, 1.0, 3.0))
    val edge = vals("all | map x -> round(ln(x))", eng(-1, 0))
    assert(edge(0).isNaN && edge(1).isNegInfinity)
  }

  test("compiled ln propagates NULL instead of fabricating NaN") {
    val df = Seq[(Timestamp, String, java.lang.Double)](
      (Timestamp.valueOf("2024-01-01 00:00:00"), "/t", null),
      (Timestamp.valueOf("2024-01-01 00:00:01"), "/t", 1.0)
    ).toDF("time", "topic", "value")
    val c = new Catalog; c.createDdl("/t", "float64")
    val e = FossilEngine.over(df, c, () => 1735689600L * 1000000000L)
    val out = e.query("all | map x -> ln(x)").orderBy("time").select("value").collect()
    assert(out(0).isNullAt(0)) // missing data stays missing
    assert(out(1).getDouble(0) == 0.0)
  }

  test("reduce forms: scalar subscript and whole-tuple folds are typed errors") {
    // whole-tuple max would silently become Spark's LEXICOGRAPHIC array max
    assertThrows[FqlException] {
      eng(1, 2).query("all | map x -> x, x | reduce a, b -> max(a, b)")
    }
    // subscripting a scalar used to silently drop the subscript and sum
    assertThrows[FqlException] {
      eng(1, 2).query("all | reduce a, b -> a[0] + b[0]")
    }
    // single element-slot folds over a tuple work (and fold the ELEMENT)
    assert(vals("all | map x -> x, x + 1 | reduce a, b -> a[0] + b[0]", eng(1, 2))
      == Seq(3.0))
  }

  test("Stamp datetime parses with the 1970 default year (Go's year 0 is unrepresentable)") {
    val ns = Parser.parseVagueDateTime("Jan  2 15:04:05")
    assert(ns == (86400L + 15 * 3600 + 4 * 60 + 5) * 1000000000L)
  }

  test("reduce is a global fold with assoc+comm contract") {
    assert(vals("all | reduce a, b -> a + b", eng(1, 2, 3, 4)) == Seq(10.0))
  }

  /** Malformed-query and edge probes on the sf0.001 events, each pinned
    * to its outcome there: `Right(rows)` or `Left(first line of the
    * FqlException message)`. The parser-only failures (`foo`, trailing
    * garbage, `all in /12`) are cases of ParserSpec. */
  private val sf0001Cases: Seq[(String, Either[String, Long])] = Seq(
    "all | filter x -> y > 1" -> Left("unresolved identifier 'y'"),
    "all | filter x -> x == 'foo'" -> Left("'==' operands not comparable: double vs string"),
    "all | reduce a -> a" -> Left("Syntax error found in query:"),
    "all | map x -> frob(x)" -> Left("Unknown builtin function 'frob'"),
    "all | map x -> 1, x | map a, b, c -> a" ->
      Left("stage takes 3 args but input is a 2-tuple"),
    "all | map x -> x[5]" -> Left("cannot index double"),
    "all between ~(2024/01/03), ~(2024/01/02)" -> Right(0L), // inverted range
    "all since ~now + @day" -> Right(0L), // future start
    "sample(0)" -> Right(1000L), // a zero interval keeps every entry
    "all in /nosuchtopic" -> Right(0L),
    // numeric truthiness, unary ±, tuple and composite subscripts,
    // multi-arg builtins and boolean equality (DifferentialSpec fuzzes
    // the same surface on generated data)
    "all in /events | map x -> x - 100 | filter v -> v" -> Right(1000L),
    "all in /events | map x -> -x" -> Right(1000L),
    "all in /events | map x -> +x" -> Right(1000L),
    "all in /events | map x -> 1, x * 2 | map t -> t[1]" -> Right(1000L),
    "all in /events | map x -> \"a\": x, \"b\": 2 | map c -> c[\"a\"] + c[\"b\"]" ->
      Right(1000L),
    "all in /events | map x -> max(x, 1, 2, 3)" -> Right(1000L),
    "all in /events | filter v -> v > 100 == (v > 100)" -> Right(1000L))

  test("malformed and edge queries on sf0.001 events: errors and row counts") {
    val e = FossilEngine.over(graft.Tables.eventEntries(spark, "/root/testdata/sf0.001"),
      graft.Tables.eventsCatalog, graft.Queries.fixedClock)
    sf0001Cases.foreach { case (q, want) =>
      val got = try Right(e.query(q).count()) catch {
        case x: FqlException => Left(x.getMessage.linesIterator.next())
      }
      assert(got == want, q)
    }
  }

  test("sample greedy: first kept, next >= last + interval") {
    // entries at seconds 0..5; sample(@second * 2) keeps 0, 2, 4
    val kept = vals("sample(@second * 2)", eng(10, 11, 12, 13, 14, 15))
    assert(kept == Seq(10.0, 12.0, 14.0))
  }
}

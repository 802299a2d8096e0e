package graft.fql

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fql.Ast._

/** Compiles an FQL query AST onto a Spark DataFrame of entries.
  *
  * The input frame must have columns `time TIMESTAMP`, `topic STRING`, and a
  * `value` column whose Spark type reflects the (combined) topic schema —
  * the analog of fossil's hydrated `Entry` (`pkg/database/result.go:24-29`)
  * after the typed decode.
  *
  * Everything is declarative DataFrame API: time/topic predicates become
  * Catalyst filters (pushed to the Parquet scan), pipeline stages become
  * `select`/`filter` (fused by whole-stage codegen), and `reduce` becomes a
  * real aggregate when the body is sum/min/max-shaped — a single partial+final
  * agg at scale — falling back to a distributed `treeReduce` with the FQL
  * interpreter for arbitrary associative bodies.
  *
  * Deliberate deviations from reference behavior (documented semantics win):
  * `!=` works (ref runtime panics, `pkg/query/types/value.go:406-466`),
  * `len`/`pow` exist (ref registers only max/min,
  * `pkg/query/types/builtin.go:14-21`).
  */
object Compiler {

  final val TimeCol = "time"
  final val TopicCol = "topic"
  final val ValueCol = "value"

  /** Optional raw source-time column (epoch NANOS, as read from the file
    * before any conversion). When present, time predicates are ALSO applied
    * to it: `time` is a computed column (µs truncation of the raw nanos), so
    * a predicate on `time` alone cannot reach the Parquet scan — the
    * equivalent raw-column predicate is what turns a 100 TB full scan into
    * row-group-pruned reads. Dropped from the result after filtering. */
  final val RawNsCol = "__t_ns"

  /** Epoch nanos clock, injectable for deterministic `~now`. */
  type Clock = () => Long

  def systemClock: Clock = () => System.currentTimeMillis() * 1000000L

  def compile(q: Query, entries: DataFrame, clock: Clock = systemClock): DataFrame = {
    var df = entries

    // --- topic selection (F3): exact match or descendant ------------------
    q.topic.foreach { raw =>
      val t = if (raw.length > 1 && raw.endsWith("/")) raw.dropRight(1) else raw
      if (t != "/")
        df = df.filter(col(TopicCol) === t || col(TopicCol).startsWith(t + "/"))
    }

    // --- time predicate (F4): since [t,now], before (-inf,t], between [a,b]
    q.timePred.foreach { tp =>
      val nowNs = clock()
      val hasRaw = df.columns.contains(RawNsCol)
      // With the raw nanos column the bound is applied at FULL nanosecond
      // precision (reference compares ns-exact, `pkg/database/segment.go`);
      // the derived-time predicate (µs truncation) rides along for pushdown
      // and is implied by the raw one. Without it, µs truncation applies.
      // ns→µs with the SAME trunc-toward-zero division the entry views use
      // (SQL `div`): floorDiv would disagree for pre-epoch bounds — e.g.
      // leq(ns = -500) must give µs bound 0 (an entry at raw -500ns has
      // time = 0µs), not -1µs, or the ANDed µs+raw predicates would drop a
      // row the ns-exact predicate keeps.
      def geq(ns: Long): Column = {
        val us = ns / 1000L
        val p = col(TimeCol) >= timestamp_micros(lit(us))
        if (hasRaw) p && col(RawNsCol) >= ns else p
      }
      def leq(ns: Long): Column = {
        val us = ns / 1000L
        val p = col(TimeCol) <= timestamp_micros(lit(us))
        if (hasRaw) p && col(RawNsCol) <= ns else p
      }
      tp match {
        case Since(t) => df = df.filter(geq(t.resolve(nowNs)) && leq(nowNs))
        case Before(t) => df = df.filter(leq(t.resolve(nowNs)))
        case Between(a, b) =>
          df = df.filter(geq(a.resolve(nowNs)) && leq(b.resolve(nowNs)))
      }
    }
    if (df.columns.contains(RawNsCol)) df = df.drop(RawNsCol)

    // --- quantifier (F2): greedy downsample applied after selection --------
    // On a streaming frame the greedy carry becomes per-topic
    // flatMapGroupsWithState; on batch it is the sorted per-topic pass.
    q.quantifier match {
      case All =>
      case Sample(ns) =>
        df =
          if (df.isStreaming) graft.streaming.StreamingAdapter.greedySample(df, ns)
          else graft.operators.Sample.greedyPerTopic(df, ns)
    }

    // sample ∘ reduce on a stream would chain the stateful greedy sample
    // (flatMapGroupsWithState) into a global streaming aggregation — a
    // combination Spark rejects at sink start with an opaque
    // UnsupportedOperationChecker error (complete mode forbids
    // flatMapGroupsWithState; append forbids the unwatermarked global
    // agg). Reject it here with a queryable message instead.
    if (df.isStreaming && q.quantifier.isInstanceOf[Sample]
        && q.pipeline.exists(_.isInstanceOf[ReduceStage]))
      throw new FqlException(
        "sample(...) followed by reduce is not supported on unbounded " +
          "streams: the stateful sample and a global aggregation cannot " +
          "share one streaming query; use a windowed aggregation")

    // --- data pipeline -----------------------------------------------------
    // The fold threads the logical tuple arity alongside the frame: Spark's
    // ArrayType carries no length, but fossil's checker enforces arg-count
    // against declared tuple width (`pkg/query/analysis/types.go:233-260`).
    q.pipeline.foldLeft((df, Option.empty[Int])) { case ((acc, arity), stage) =>
      compileStage(stage, acc, arity)
    }._1
  }

  // === stage compilation ===================================================

  private def valueType(df: DataFrame): DataType =
    df.schema(ValueCol).dataType

  /** Bind stage args to columns: one arg = whole value; k args = elements of
    * an incoming k-tuple (`pkg/query/analysis/types.go:233-260`). */
  private def bind(args: List[String], df: DataFrame,
      arity: Option[Int]): Map[String, (Column, DataType)] = {
    val vt = valueType(df)
    args match {
      case a :: Nil => Map(a -> (col(ValueCol), vt))
      case _ =>
        vt match {
          case ArrayType(et, _) =>
            arity.foreach { n =>
              if (n != args.length)
                throw new FqlException(
                  s"stage takes ${args.length} args but input is a $n-tuple")
            }
            args.zipWithIndex.map { case (a, i) => a -> (col(ValueCol).getItem(i), et) }.toMap
          case st: StructType if st.length == args.length =>
            args.zip(st.fields).map { case (a, f) =>
              a -> (col(ValueCol).getField(f.name), f.dataType)
            }.toMap
          case other =>
            throw new FqlException(
              s"stage takes ${args.length} args but input value is ${other.simpleString}")
        }
    }
  }

  private def outArity(out: StageOut): Option[Int] = out match {
    case OutTuple(es) => Some(es.length)
    case _ => None
  }

  private def compileStage(stage: Stage, df: DataFrame,
      arity: Option[Int]): (DataFrame, Option[Int]) = stage match {
    case FilterStage(args, pred) =>
      val env = bind(args, df, arity)
      val (c, dt) = compileExpr(pred, env)
      (df.filter(truthy(c, dt)), arity)

    case MapStage(args, out) =>
      val env = bind(args, df, arity)
      val (vc, _) = compileOut(out, env)
      (df.select(col(TimeCol), col(TopicCol), vc.as(ValueCol)), outArity(out))

    case ReduceStage(args, out) =>
      (compileReduce(args, out, df), outArity(out))
  }

  /** Truthiness per `pkg/query/types/value.go:326-337`: numeric ≠ 0 is true. */
  private def truthy(c: Column, dt: DataType): Column = dt match {
    case BooleanType => c
    case _: NumericType => c =!= lit(0)
    case StringType => c.isNotNull && c =!= lit("")
    case _ => c.isNotNull
  }

  /** Compile a stage RHS to a single value Column + its type. */
  private def compileOut(out: StageOut, env: Map[String, (Column, DataType)]): (Column, DataType) =
    out match {
      case OutExpr(e) => compileExpr(e, env)
      case OutTuple(es) =>
        val compiled = es.map(e => compileExpr(e, env))
        // homogeneous-NUMERIC tuples; floats win (`analysis/types.go:203-225`).
        // Non-numeric elements are a type error like the reference
        // (`value.go:216`) — casting them would silently null strings.
        compiled.map(_._2).find(!numeric(_)).foreach { bad =>
          throw new FqlException(
            s"tuple elements must be numeric, got ${bad.simpleString}")
        }
        val anyFloat = compiled.exists(c => isFloat(c._2))
        val et: DataType = if (anyFloat) DoubleType else LongType
        (array(compiled.map(_._1.cast(et)): _*), ArrayType(et, containsNull = false))
      case OutComposite(fields) =>
        // canonical sorted key order, like the reference's materialization
        // (`pkg/query/types/value.go:230-240`)
        val sorted = fields.sortBy(_._1)
        val cols = sorted.map { case (k, e) => compileExpr(e, env)._1.as(k) }
        val st = StructType(sorted.map { case (k, e) =>
          StructField(k, inferType(e, env))
        })
        (struct(cols: _*), st)
    }

  // === expression compiler =================================================

  def compileExpr(e: Expr, env: Map[String, (Column, DataType)]): (Column, DataType) = {
    val dt = inferType(e, env)
    (compileCol(e, env), dt)
  }

  private def numeric(dt: DataType): Boolean = dt.isInstanceOf[NumericType]
  private def isFloat(dt: DataType): Boolean =
    dt == DoubleType || dt == FloatType || dt.isInstanceOf[DecimalType]

  private def compileCol(e: Expr, env: Map[String, (Column, DataType)]): Column = e match {
    case IntLit(v) => lit(v)
    case FloatLit(v) => lit(v)
    case StringLit(v) => lit(v)
    case Ident(n) =>
      env.getOrElse(n, throw new FqlException(s"unresolved identifier '$n'"))._1
    case Unary("-", x) => negate(compileCol(x, env))
    case Unary(_, x) => compileCol(x, env)
    case Binary(op, l, r) =>
      val lc = compileCol(l, env)
      val rc = compileCol(r, env)
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        // `/` always yields float, even int/int (`value.go:436`), with IEEE
        // zero-divisor semantics like Go float64 (±Inf, 0/0 = NaN) — Spark's
        // ANSI mode would otherwise throw DIVIDE_BY_ZERO. The when() branch
        // is evaluated lazily per row, so the guarded divide never runs with
        // a zero divisor. (Deviation: a literal -0.0 divisor compares equal
        // to 0.0 in SQL and yields the +0.0-divisor result.)
        case "/" =>
          val l = lc.cast(DoubleType)
          val r = rc.cast(DoubleType)
          // NULL operands propagate NULL (the fold interpreter throws on
          // null; Column semantics are three-valued — without this branch
          // `x / NULL` would fall into the otherwise-arm and fabricate ±Inf)
          when(l.isNull || r.isNull, lit(null).cast(DoubleType))
            .when(r =!= 0.0, l / r)
            .otherwise(
              // isnan FIRST: Spark comparisons use total order where
              // NaN > 0 is true, which would turn NaN/0 into +Inf
              when(isnan(l), lit(Double.NaN))
                .when(l > 0.0, lit(Double.PositiveInfinity))
                .when(l < 0.0, lit(Double.NegativeInfinity))
                .otherwise(lit(Double.NaN)))
        case "<" => lc < rc
        case "<=" => lc <= rc
        case ">" => lc > rc
        case ">=" => lc >= rc
        case "==" => lc === rc
        case "!=" => lc =!= rc
        case other => throw new FqlException(s"unknown operator '$other'")
      }
    case IndexSub(x, i) =>
      val xt = inferType(x, env)
      xt match {
        case ArrayType(_, _) => compileCol(x, env).getItem(i)
        case _ => throw new FqlException(s"cannot subscript ${xt.simpleString} with [$i]")
      }
    case KeySub(x, k) => compileCol(x, env).getField(k)
    case Call(name, args) => compileBuiltin(name, args, env)
  }

  /** Builtin registry. Parity: max/min (tuple → element-wise,
    * `pkg/query/types/builtin.go:29-105`); documented-but-missing len/pow
    * shipped working. The rest are capability extensions via
    * `org.apache.spark.sql.functions` (all codegen'd; no UDFs). */
  private def compileBuiltin(
      name: String, args: List[Expr], env: Map[String, (Column, DataType)]): Column = {
    def one: Column = compileCol(args.head, env)
    def compiled: List[(Column, DataType)] = args.map(a => compileExpr(a, env))
    name match {
      case "max" =>
        if (args.length == 1 && inferType(args.head, env).isInstanceOf[ArrayType]) array_max(one)
        else greatest(compiled.map(_._1): _*)
      case "min" =>
        if (args.length == 1 && inferType(args.head, env).isInstanceOf[ArrayType]) array_min(one)
        else least(compiled.map(_._1): _*)
      case "len" =>
        (inferType(args.head, env) match {
          case _: ArrayType => size(one)
          case _ => length(one)
        }).cast(LongType)
      case "pow" =>
        if (args.length != 2) throw new FqlException("pow takes 2 arguments")
        pow(compiled(0)._1.cast(DoubleType), compiled(1)._1.cast(DoubleType))
      case "abs" => abs(one)
      case "round" =>
        if (args.length == 2) round(compiled(0)._1, args(1) match {
          case IntLit(v) => v.toInt
          case _ => throw new FqlException("round scale must be an integer literal")
        }) else round(one)
      case "floor" | "ceil" =>
        val f: Column => Column = if (name == "floor") floor else ceil
        inferType(args.head, env) match {
          case dt if isFloat(dt) =>
            // Spark's floor/ceil return LONG: ±Inf/NaN would collapse to
            // Long.Min/Max and huge finite doubles would overflow. Those
            // are already integral (or not finite) — pass them through,
            // floor only the safely-convertible range. Keeps double
            // semantics like Go's math.Floor (and the fold interpreter).
            val big = lit(9.0e18)
            when(isnan(one) || one >= big || one <= -big, one)
              .otherwise(f(one).cast(DoubleType))
          case _ => f(one) // integral input: identity-shaped, stays long
        }
      case "sqrt" => sqrt(one)
      case "exp" => exp(one)
      case "ln" =>
        // Spark's log returns NULL for input <= 0; fossil semantics are
        // Go's math.Log (pkg/query/types would call through float64):
        // ln(neg) = NaN, ln(0) = -Inf, ln(NaN) = NaN — same as the fold
        // interpreter's math.log. Branches are lazy, so log only ever
        // evaluates on the in-domain side. (Found by differential fuzzing:
        // the NULL silently dropped rows from compiled filters.) NULL input
        // stays NULL — without the isNull arm it would fall into the
        // otherwise-branch and fabricate a NaN from missing data, the same
        // three-valued-logic rule the '/' branch guards.
        val d = one.cast(DoubleType)
        when(d.isNull, lit(null).cast(DoubleType))
          .when(d > 0d, log(d))
          .when(d === 0d, lit(Double.NegativeInfinity))
          .otherwise(lit(Double.NaN))
      case other => throw new FqlException(s"Unknown builtin function '$other'")
    }
  }

  def inferType(e: Expr, env: Map[String, (Column, DataType)]): DataType = e match {
    case IntLit(_) => LongType
    case FloatLit(_) => DoubleType
    case StringLit(_) => StringType
    case Ident(n) =>
      env.getOrElse(n, throw new FqlException(s"unresolved identifier '$n'"))._2
    case Unary(_, x) => inferType(x, env)
    case Binary(op, l, r) => op match {
      case "/" => DoubleType
      case "+" | "-" | "*" =>
        val lt = inferType(l, env); val rt = inferType(r, env)
        if (!numeric(lt) || !numeric(rt))
          throw new FqlException(s"operator '$op' requires numeric operands, " +
            s"got ${lt.simpleString} and ${rt.simpleString}")
        if (isFloat(lt) || isFloat(rt)) DoubleType else LongType
      case "<" | "<=" | ">" | ">=" =>
        val lt = inferType(l, env); val rt = inferType(r, env)
        if (!numeric(lt) || !numeric(rt))
          throw new FqlException(s"comparison requires numeric operands, " +
            s"got ${lt.simpleString} and ${rt.simpleString}")
        BooleanType
      case "==" | "!=" =>
        val lt = inferType(l, env); val rt = inferType(r, env)
        val comparable = (numeric(lt) && numeric(rt)) || lt == rt
        if (!comparable)
          throw new FqlException(s"'$op' operands not comparable: " +
            s"${lt.simpleString} vs ${rt.simpleString}")
        BooleanType
      case _ => throw new FqlException(s"unknown operator '$op'")
    }
    case IndexSub(x, i) => inferType(x, env) match {
      case ArrayType(et, _) => et
      case st: StructType if i < st.length => st.fields(i).dataType
      case other => throw new FqlException(s"cannot index ${other.simpleString}")
    }
    case KeySub(x, k) => inferType(x, env) match {
      case st: StructType => st.find(_.name == k).map(_.dataType)
        .getOrElse(throw new FqlException(s"no composite member '$k'"))
      case other => throw new FqlException(s"cannot key-subscript ${other.simpleString}")
    }
    case Call(name, args) => name match {
      case "max" | "min" =>
        inferType(args.head, env) match {
          case ArrayType(et, _) if args.length == 1 => et
          case dt =>
            if (args.map(a => inferType(a, env)).exists(isFloat)) DoubleType else dt
        }
      case "len" => LongType
      case "pow" | "sqrt" | "exp" | "ln" => DoubleType
      case "abs" | "round" | "floor" | "ceil" => inferType(args.head, env)
      case other => throw new FqlException(s"Unknown builtin function '$other'")
    }
  }

  // === reduce ==============================================================

  /** Reference for the agg-pattern matcher: an output slot is aggregable when
    * it's `a⊕b` / `a[i]⊕b[i]` / `max(a,b)`-shaped over the two reduce args. */
  private sealed trait AggPat
  private case object AggSum extends AggPat
  private case object AggMin extends AggPat
  private case object AggMax extends AggPat

  /** A reduce-arg reference: the bound name plus whether it subscripts the
    * tuple (`a[i]`) or takes the whole value (`a`, single-slot only). */
  private def slotRef(
      e: Expr, a: String, b: String, slot: Int, nSlots: Int): Option[(String, Boolean)] =
    e match {
      case Ident(n) if (n == a || n == b) && nSlots == 1 => Some((n, false))
      case IndexSub(Ident(n), i) if (n == a || n == b) && i == slot => Some((n, true))
      case _ => None
    }

  /** Both sides must reference DIFFERENT args in the SAME form — mixed
    * `a + b[0]` is ill-typed (whole value ⊕ element) and must not match. */
  private def matchSlot(
      e: Expr, a: String, b: String, slot: Int, n: Int): Option[(AggPat, Boolean)] = {
    def both(l: Expr, r: Expr, pat: AggPat): Option[(AggPat, Boolean)] =
      for {
        (ln, li) <- slotRef(l, a, b, slot, n)
        (rn, ri) <- slotRef(r, a, b, slot, n)
        if ln != rn && li == ri
      } yield (pat, li)
    e match {
      case Binary("+", l, r) => both(l, r, AggSum)
      case Call("max", List(l, r)) => both(l, r, AggMax)
      case Call("min", List(l, r)) => both(l, r, AggMin)
      case _ => None
    }
  }

  private def compileReduce(args: List[String], out: StageOut, df: DataFrame): DataFrame = {
    val List(a, b) = args
    val slots: List[Expr] = out match {
      case OutExpr(e) => List(e)
      case OutTuple(es) => es
      case OutComposite(_) =>
        throw new FqlException("reduce output must be an expression or tuple")
    }
    val n = slots.length
    val pats = slots.zipWithIndex.map { case (e, i) => matchSlot(e, a, b, i, n) }

    val vt = valueType(df)
    // struct-valued input (composite map output) has no getItem(int)/sum
    // path — the general fold handles it; only array/scalar inputs take
    // the native aggregate fast path
    val aggShaped = pats.forall(_.isDefined) && !vt.isInstanceOf[StructType]
    if (aggShaped) {
      val indexed = pats.map(_.get._2)
      // form/type validation BEFORE compiling aggregates: subscripting a
      // scalar must be the same type error the map path raises (it used to
      // silently drop the subscript and sum the scalar), and whole-tuple
      // max/min/+ over array values must not degrade to Spark's
      // LEXICOGRAPHIC array aggregates — the reference has no whole-tuple
      // fold operators at all (`pkg/query/types/value.go` BinaryOp,
      // `builtin.go` max/min take numerics).
      vt match {
        case _: ArrayType =>
          if (indexed.exists(!_))
            throw new FqlException(
              "whole-tuple reduce is not supported: fold element slots " +
                "(e.g. reduce a, b -> a[0] + b[0], a[1] + b[1])")
        case other =>
          if (indexed.exists(identity))
            throw new FqlException(s"cannot subscript ${other.simpleString} in reduce")
      }
      // Sum/min/max shapes → native partial+final aggregate (map-side combine,
      // single shuffle of one row per partition — the 100 TB path).
      def slotCol(i: Int): Column =
        if (indexed(i)) col(ValueCol).getItem(i) else col(ValueCol)
      val aggs = pats.zipWithIndex.map {
        case (Some((AggSum, _)), i) => sum(slotCol(i))
        case (Some((AggMin, _)), i) => min(slotCol(i))
        case (Some((AggMax, _)), i) => max(slotCol(i))
        case _ => throw new IllegalStateException("unreachable")
      }
      val vc: Column =
        if (n == 1) aggs.head
        else {
          val anyFloat = vt match {
            case ArrayType(et, _) => isFloat(et)
            case other => isFloat(other)
          }
          val et: DataType = if (anyFloat) DoubleType else LongType
          array(aggs.map(_.cast(et)): _*)
        }
      // empty selection → NO output row (matching the general-fold path and
      // the reference's collector, which receives nothing) — the row count
      // marker drops Spark's always-one-row global aggregate
      df.agg(count(lit(1)).as("__n"), vc.as(ValueCol))
        .filter(col("__n") > 0)
        .select(
          lit(null).cast(TimestampType).as(TimeCol),
          // the reduce output entry is synthetic — topic "N/A"
          // (`pkg/query/plan/reduce.go:73-75`, documented semantics)
          lit("N/A").as(TopicCol),
          col(ValueCol))
    } else {
      // General fold on an unbounded stream is unbounded per-row state —
      // reject like any sane streaming engine. (Agg-SHAPED reduces took
      // the branch above: a global sum/min/max/count is O(1) state, a
      // bread-and-butter streaming aggregation run in complete mode.)
      if (df.isStreaming)
        throw new FqlException(
          "general-fold reduce is not supported on unbounded streams; " +
            "agg-shaped reduces (+/min/max) run as streaming aggregations, " +
            "or use a windowed aggregation")
      // General associative fold, one LAZY plan: per-partition fold with
      // the FQL interpreter, coalesce(1), then a single final fold. Same
      // contract as the reference (arrival-order fold, `reduce.go:47-79`):
      // only assoc+comm bodies are well-defined. No job runs at compile
      // time for any input, and an empty selection yields no row. Partial
      // results reach the final fold as serialized interpreter values, so
      // only the final value is converted to the output type.
      val vDt = vt // reduce output type must equal input type (types.go:228-231)
      val schema = StructType(Seq(
        StructField(TimeCol, TimestampType), StructField(TopicCol, StringType),
        StructField(ValueCol, vDt)))
      def fold(it: Iterator[Any]): Iterator[Any] =
        if (it.isEmpty) Iterator.empty
        else Iterator.single(it.reduce((x, y) => Eval.evalOut(out, Map(a -> x, b -> y))))
      df.select(col(ValueCol))
        .mapPartitions((rows: Iterator[Row]) =>
          fold(rows.map(r => Eval.fromRowValue(r.get(0))).filter(_ != null)))(
          Encoders.javaSerialization[Any])
        .coalesce(1)
        .mapPartitions((partials: Iterator[Any]) =>
          fold(partials).map(v => Row(null, "N/A", Eval.toRowValue(v, vDt))))(
          Encoders.row(schema))
    }
  }
}

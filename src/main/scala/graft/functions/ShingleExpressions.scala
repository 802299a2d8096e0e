package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Loop kernels for the shingle array expressions — public static shape so
  * the generated code can call them directly (the [[DotProduct]] /
  * [[NearestCentroids]] extension-ladder pattern). Each replicates its
  * Catalyst higher-order-function predecessor EXACTLY:
  * `array_distinct(transform(sequence(...), i -> concat_ws(" ",
  * slice(toks, i, k))))` and `... substring(lt, i, n)` — byte-identical
  * window strings (UTF8String.concatWs skips null elements like
  * concat_ws; substringSQL is the same character-based substring),
  * first-occurrence distinct like array_distinct. The HOF forms evaluate
  * INTERPRETED, copy a k-token slice per window, and re-box per element —
  * measured 60% of the substring rows' wall time before the swap
  * (tools/SubstrProbe as of `3e0ff69`). */
object ShingleKernels {

  private val Space = UTF8String.fromString(" ")

  def wordShingles(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val parts = new Array[UTF8String](k)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) {
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** filter(arr, t -> t != "") — drops empty strings AND nulls (a null
    * element makes the HOF predicate null, which filter drops). */
  def nonEmptyStrings(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        if (s.numBytes() > 0) { out(m) = s; m += 1 }
      }
      i += 1
    }
    new GenericArrayData(if (m == n) out else java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], m).asInstanceOf[Array[Any]])
  }

  def charShingles(lt: UTF8String, n: Int): ArrayData = {
    val len = lt.numChars()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 1
    while (i <= len - n + 1) {
      seen.add(lt.substringSQL(i, n))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }
}

/** Distinct stride-1 k-word shingles of a token array, as a native
  * codegen expression — the drop-in body of
  * [[graft.operators.TextOps.wordShingles]]. */
case class WordShinglesArray(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.wordShingles(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.wordShingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `filter(arr, t -> t != "")` as a native codegen expression — the
  * empties-drop inside [[graft.operators.TextOps.tokens]], which every
  * text operator's hot path runs once per row; the HOF filter evaluates
  * its lambda interpreted per token. Nulls drop too (the HOF predicate
  * is null for them, and filter drops non-true). */
case class NonEmptyStrings(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"non_empty_strings expects array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "non_empty_strings"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.nonEmptyStrings(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.nonEmptyStrings($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct character n-grams of a (pre-normalized) string, as a native
  * codegen expression — the drop-in body of
  * [[graft.operators.TextOps.charShingles]]. */
case class CharShinglesArray(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_shingles expects string, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.charShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.charShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

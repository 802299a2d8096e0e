package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-only kernel for the column formulation
  * `round(size(array_intersect(a, b)) * 10000.0 /
  *  (size(a) + size(b) - size(array_intersect(a, b))), 0)` —
  * [[graft.operators.TextOps.jaccardE4]], the exact-verify stage of the
  * minhash/ngram dedup family. `array_intersect` materializes the
  * intersection ARRAY (hash set + output copy per row) only for `size`
  * to count it, and the surrounding arithmetic re-evaluates it; this
  * expression counts in one pass with no output array.
  *
  * Replicated semantics, bit-exact:
  *  - intersection counts DISTINCT elements of `a` present in `b`
  *    (first-occurrence dedup of `a`, like array_intersect), null
  *    counted once iff null appears in BOTH;
  *  - union = numElements(a) + numElements(b) − inter (sizes count
  *    duplicates, exactly as `size()` does);
  *  - `inter * 10000.0 / union` in doubles, rounded via
  *    `BigDecimal.valueOf(x).setScale(0, HALF_UP)` — Spark's `round(x, 0)`
  *    (and DuckDB's `round(x)` for the non-negative values here);
  *  - union = 0 (two empty arrays) throws, matching the ANSI
  *    divide-by-zero the column form raises; no battery caller can reach
  *    it (empty docs band to null keys and never become candidates). */
case class JaccardE4(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard_e4 expects two array<string> args, got ${left.dataType} / ${right.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "jaccard_e4"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardE4.kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.JaccardE4.kernel($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardE4 {

  def kernel(a: ArrayData, b: ArrayData): Long = {
    val nb = b.numElements()
    val bSet = new java.util.HashSet[UTF8String](Math.max(4, nb * 2))
    var bHasNull = false
    var i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bHasNull = true else bSet.add(b.getUTF8String(i))
      i += 1
    }
    val na = a.numElements()
    val seen = new java.util.HashSet[UTF8String](Math.max(4, na * 2))
    var seenNull = false
    var inter = 0L
    var j = 0
    while (j < na) {
      if (a.isNullAt(j)) {
        if (!seenNull && bHasNull) inter += 1
        seenNull = true
      } else {
        val s = a.getUTF8String(j)
        if (seen.add(s) && bSet.contains(s)) inter += 1
      }
      j += 1
    }
    val union = na.toLong + nb.toLong - inter
    if (union == 0L)
      throw new ArithmeticException(
        "jaccard_e4: division by zero (two empty arrays) — the column " +
          "formulation raises ANSI DIVIDE_BY_ZERO here too")
    java.math.BigDecimal.valueOf(inter * 10000.0 / union)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }

  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(JaccardE4(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

/** Hashed-verify kernels for the minhash/ngram dedup family (r16).
  *
  * The exact-Jaccard verify stage joins each candidate pair's SHINGLE
  * ARRAYS back by id and counts their intersection. With string arrays
  * that costs (a) the exchange shuttling ~13–16 B per element (bytes +
  * offsets) once per pair occurrence, and (b) two boxed
  * HashSet<UTF8String> builds per pair inside [[JaccardE4.kernel]] —
  * together the family's dominant stage once candidates outnumber true
  * pairs ~200:1 (tools/NgramProbe as of `3e0ff69`, at 10×: shuttle 1.6 s
  * + kernel 1.2 s of a 2.9 s verify). These kernels replace the payload with a row-local
  * SORTED xxhash64 array (8 B/element, primitive) and the count with an
  * allocation-free linear merge.
  *
  * Exactness: identical to the string kernel UNLESS two DISTINCT shingles
  * of one candidate pair collide in 64 bits — probability ≈ (|A|+|B|)²/2⁶⁵
  * per pair (~10⁻¹³ at 2k shingles), the same organic-text stance as the
  * substring family's xxhash window keys
  * ([[graft.operators.Dedup.windowFrame128]]'s collision caveat, which
  * also names the crypto-hash fallback for adversarial corpora). The
  * DuckDB oracles verify over the STRING sets, so any collision would
  * surface as a hash mismatch rather than hide. */
object HashedJaccard {

  /** Row-local: array<string> → ASCENDING-sorted array<long> of each
    * element's xxhash64 (seed 42, the `xxhash64()` function's pin).
    * Duplicates are preserved (numElements stays the string array's, so
    * union arithmetic matches `size()` exactly); null elements are
    * rejected — every shingle generator emits non-null elements, and a
    * silent null policy here could drift from the string kernel's. */
  def hashSorted(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (sh.isNullAt(i))
        throw new IllegalArgumentException(
          "hashed_shingles: null element — shingle generators never emit " +
            "nulls; hash the raw array only after a null-filtering map")
      val s = sh.getUTF8String(i)
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** Null-element validation for [[AssertHashArrayNotNull]]: returns the
    * array unchanged, throws by name on the first null slot. */
  def assertNoNullElements(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          "hashed shingle array contains a null element — not a " +
            "hashed_shingles output (corrupt or hand-written store file?)")
      i += 1
    }
    a
  }

  /** Merge-intersect j_e4 over two SORTED long arrays: counts DISTINCT
    * shared values (duplicate runs advance in one step, mirroring the
    * string kernel's first-occurrence dedup), union = numElements sums
    * minus the intersection (duplicates counted, like `size()`), same
    * HALF_UP rounding and same ANSI throw on two empties. */
  def jaccardE4(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va < vb) i += 1
      else if (va > vb) j += 1
      else {
        inter += 1
        while (i < na && a.getLong(i) == va) i += 1
        while (j < nb && b.getLong(j) == va) j += 1
      }
    }
    val union = na.toLong + nb.toLong - inter
    if (union == 0L)
      throw new ArithmeticException(
        "jaccard_e4_sorted: division by zero (two empty arrays) — same " +
          "ANSI contract as jaccard_e4")
    java.math.BigDecimal.valueOf(inter * 10000.0 / union)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }
}

/** [[HashedJaccard.hashSorted]] as a native codegen expression. */
case class HashedSortedShingles(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hashed_shingles expects array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingles"

  override protected def nullSafeEval(input: Any): Any =
    HashedJaccard.hashSorted(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashedJaccard.hashSorted($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedSortedShingles {
  def apply(sh: Column): Column =
    GraftSqlBridge.column(HashedSortedShingles(GraftSqlBridge.expression(sh)))
}

/** [[HashedJaccard.jaccardE4]] as a native codegen expression — inputs
  * MUST be [[HashedSortedShingles]] outputs (sorted, non-null). */
case class JaccardE4Sorted(left: Expression, right: Expression)
    extends BinaryExpression {
  // containsNull = true is REJECTED, not just discouraged: the merge loop
  // reads every slot with getLong, so a null element would silently score
  // as 0 rather than error. HashedSortedShingles declares
  // containsNull = false, so the intended producer still type-checks;
  // arbitrary array<long> columns must prove non-nullability first.
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, false) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard_e4_sorted expects two array<long not null> args (sorted, " +
        s"e.g. hashed_shingles output), got ${left.dataType} / ${right.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "jaccard_e4_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    HashedJaccard.jaccardE4(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.HashedJaccard.jaccardE4($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardE4Sorted {
  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(JaccardE4Sorted(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

/** Pass-through re-assertion of the [[HashedSortedShingles]] output
  * contract over a column that lost it in storage: Parquet reads arrays
  * back with NULLABLE elements, so a persisted verify array
  * ([[graft.operators.SignatureStore]]'s `hashed.parquet`) arrives typed
  * `array<long (nullable)>` even though the writer's type forbade nulls —
  * and [[JaccardE4Sorted]] rejects nullable elements outright (a null
  * slot would silently score as 0 through `getLong`). This validates
  * every element (throws by name on a null — e.g. a hand-written or
  * corrupted store file) and re-declares `containsNull = false`, keeping
  * the strict type check AND the stored path. The O(len) scan is free in
  * context: the downstream merge reads every slot anyway. */
case class AssertHashArrayNotNull(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"assert_hash_array_not_null expects array<long>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "assert_hash_array_not_null"

  override protected def nullSafeEval(input: Any): Any =
    HashedJaccard.assertNoNullElements(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashedJaccard.assertNoNullElements($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AssertHashArrayNotNull {
  def apply(c: Column): Column =
    GraftSqlBridge.column(AssertHashArrayNotNull(GraftSqlBridge.expression(c)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-local MinHash signature kernel.
  *
  * The r7→r14 signature path exploded each document's shingle array,
  * md5'd every occurrence as a separate row, and rebuilt the per-document
  * mins through a HashAggregate — a corpus-sized explode plus an exchange
  * to recompute what is a PURE function of one row's shingle array. The
  * DuckDB oracle twins were always row-local (`list_transform(sh, ...)`
  * inside one SELECT); this kernel makes the Spark side match: one pass
  * over the array, one md5 per (already distinct) shingle, K running
  * mins — no explode, no shuffle, no agg. Measured at sf0.1 it removes
  * ~60% of dedup_ngram's signature-stage wall time (tools/NgramProbe as
  * of `3e0ff69`).
  *
  * Byte parity with the column formulation it replaces
  * ([[graft.operators.TextOps.baseHash]] /
  * [[graft.operators.TextOps.minhashSignature]]):
  * `conv(substring(md5_hex, 1, 15), 16, 10) % M` — the first 15 hex chars
  * of an md5 are the digest's first 8 bytes as an unsigned big-endian
  * word shifted right 4 bits; products `hv·A + B` stay < 2⁶² (both
  * factors < 2³¹), exact in 64-bit arithmetic, exactly as in the DuckDB
  * twin `('0x' || substr(md5(s), 1, 15))::BIGINT % M`. */
object MinhashKernels {

  val HashPrime = 2147483647L // 2³¹ − 1 (see TextOps.HashPrime scaladoc)

  // MessageDigest is stateful and not thread-safe; one instance per
  // executor thread, reset per use (allocation-free steady state)
  private val Md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** `conv(substring(md5(s), 1, 15), 16, 10) % HashPrime` without the hex
    * round-trip: 60-bit unsigned prefix of the digest, mod M. */
  def baseHash60(s: UTF8String): Long = {
    val md = Md.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v >>> 4) % HashPrime
  }

  /** K running mins of `(baseHash60(s)·as(k) + bs(k)) % M` over the array's
    * non-null elements; an array with no non-null element yields K null
    * elements (the `min(null-only group)` the aggregate path produced). */
  def minhashSig(sh: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val k = as.length
    val n = sh.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        any = true
        val hv = baseHash60(sh.getUTF8String(i))
        var j = 0
        while (j < k) {
          val h = (hv * as(j) + bs(j)) % HashPrime
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(new Array[Any](k)) // K nulls, like min() of none
    else new GenericArrayData(mins)
  }
}

/** MinHash signature of a (distinct-element) shingle array as a native
  * codegen expression: `array<long>` of `consts.length` mins. Constants
  * come from the caller ([[graft.operators.TextOps.hashConstants]] is the
  * single source of truth for the 2-universal family). */
case class MinhashSigArray(child: Expression, consts: Seq[(Long, Long)])
  extends UnaryExpression {
  require(consts.nonEmpty, "minhash signature needs at least one hash")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  private lazy val as: Array[Long] = consts.map(_._1).toArray
  private lazy val bs: Array[Long] = consts.map(_._2).toArray

  override protected def nullSafeEval(input: Any): Any =
    MinhashKernels.minhashSig(input.asInstanceOf[ArrayData], as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("mhAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("mhBs", bs, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashKernels.minhashSig($c, $asRef, $bsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSigArray {
  def apply(sh: Column, consts: Seq[(Long, Long)]): Column =
    GraftSqlBridge.column(MinhashSigArray(GraftSqlBridge.expression(sh), consts))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{BinaryType, DataType}

import graft.engine.{Codec, FossilSchema}
import graft.engine.FossilSchema.SType

/** Decode a fossil wire-format binary datum into its typed Spark value.
  *
  * The schema DDL is fixed at plan time (it decides the output `DataType`),
  * the bytes column is per-row. This is the ingest-boundary operator for
  * wire-compatible data (format per `pkg/schema/encoding.go:224-259`,
  * length-prefixed composite members `pkg/query/types/value.go:126-142`);
  * internal storage remains native Parquet types, so this expression never
  * sits in analytic hot paths — CodegenFallback is the appropriate tier
  * here (one interpreted call per ingested datum, at the edge of the plan).
  */
case class FossilDecode(ddl: String, child: Expression)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val schema: SType = FossilSchema.parse(ddl)
  @transient private lazy val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(dataType)

  override def dataType: DataType = FossilSchema.parse(ddl).sparkType
  override def prettyName: String = "fossil_decode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fossil_decode expects binary input, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any = {
    val decoded = Codec.decode(schema, input.asInstanceOf[Array[Byte]])
    toCatalyst(Codec.toSpark(schema, decoded))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FossilDecode {
  /** `fossil_decode('<ddl>', bytesCol)` as a Column. */
  def apply(ddl: String, bytes: Column): Column =
    GraftSqlBridge.column(FossilDecode(ddl, GraftSqlBridge.expression(bytes)))
}

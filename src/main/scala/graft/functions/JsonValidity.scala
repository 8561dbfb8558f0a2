package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.JsonShape

/** Shared STRING-argument contract for graft's unary native expressions.
  * Also marks them foldable over foldable input so Catalyst constant-folds
  * literal calls at plan time. */
trait RequiresStringInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")
  override def foldable: Boolean = child.foldable
}

/** `json_is_valid(str)` — true iff the string is exactly one parseable
  * JSON value.
  *
  * Native Catalyst expression (with codegen, so it stays inside the
  * whole-stage-codegen span of the scan that feeds it) re-expressing the
  * reference's validation predicate `checkJSONValid`
  * (`HiveSchemaGenerator.scala:77-95`). Divergence (SURVEY.md §2 op #3):
  * the reference's org.json tokener accepts trailing garbage after the
  * first JSON value; we require EOF.
  */
case class JsonIsValid(child: Expression)
    extends UnaryExpression with RequiresStringInput {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "json_is_valid"
  override protected def nullSafeEval(s: Any): Any =
    JsonShape.isValidUTF8(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.schema.JsonShape.isValidUTF8($c)")
  override protected def withNewChildInternal(newChild: Expression): JsonIsValid =
    copy(child = newChild)
}

/** `json_is_object(str)` — true iff valid JSON whose top level is an
  * object; the admission contract for table-schema inference. Routes
  * top-level arrays/scalars to the invalid side instead of the reference's
  * silent `ERROR` DDL path (`CreateHQL.scala:91`, SURVEY.md §1.2). */
case class JsonIsObject(child: Expression)
    extends UnaryExpression with RequiresStringInput {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "json_is_object"
  override protected def nullSafeEval(s: Any): Any =
    JsonShape.isValidObjectUTF8(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.schema.JsonShape.isValidObjectUTF8($c)")
  override protected def withNewChildInternal(newChild: Expression): JsonIsObject =
    copy(child = newChild)
}

/** Column API for graft's native functions; SQL registration is
  * [[graft.GraftExtensions]]. */
object Fns {
  def json_is_valid(c: Column): Column =
    GraftBridge.column(JsonIsValid(GraftBridge.expression(c)))
  def json_is_object(c: Column): Column =
    GraftBridge.column(JsonIsObject(GraftBridge.expression(c)))
  def nfc_normalize(c: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))
}

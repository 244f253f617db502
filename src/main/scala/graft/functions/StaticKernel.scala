package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.DataType

/** The one expression form of a pure per-row kernel: a static method on a
  * Scala object, called through Spark's own [[StaticInvoke]].
  *
  * `StaticInvoke` generates a direct call to the method, so a projection of
  * kernels stays inside WholeStageCodegen (a `CodegenFallback` expression
  * keeps its whole `Project` out of it and boxes every row). It also checks
  * the argument types at analysis (`DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE`),
  * applies the analyzer's implicit casts (`array<float>` → `array<double>`)
  * and, when null-safe, returns NULL for a NULL argument without calling the
  * kernel.
  *
  * This carrier only names the call. It is `RuntimeReplaceable`, so the
  * optimizer's first batch swaps in the `StaticInvoke`, and
  * `InheritAnalysisRules` names the column `name(a, b)` after the invoke's
  * first `arity` arguments: the column arguments. Literal parameters (gram
  * width, robots agent) follow them and stay out of the name. The named
  * arguments are derived from the replacement rather than stored, so they
  * are the analyzer's resolved children, not the Column API's unresolved
  * wrappers.
  */
case class StaticKernel(name: String, arity: Int, replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override def parameters: Seq[Expression] = replacement.children.take(arity)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}

object StaticKernel {

  /** `name(columns…)`: `kernel.method(columns…, params…)`, each column
    * typed by `inputTypes` and each parameter passed as a literal. The one
    * builder behind both a kernel's Column function and its SQL
    * registration. `nullSafe` = a NULL column yields NULL without a call;
    * `nullableResult` = the method itself may return null (a boxed or
    * reference result). */
  def expr(name: String, kernel: AnyRef, method: String, dataType: DataType,
           inputTypes: Seq[DataType], columns: Seq[Expression], params: Seq[Any] = Nil,
           nullSafe: Boolean = true, nullableResult: Boolean = false): Expression = {
    require(columns.length == inputTypes.length,
      s"$name takes ${inputTypes.length} column argument(s), got ${columns.length}")
    val literals = params.map(Literal(_))
    StaticKernel(name, columns.length, StaticInvoke(kernel.getClass, dataType, method,
      columns ++ literals, inputTypes ++ literals.map(_.dataType),
      propagateNull = nullSafe, returnNullable = nullableResult))
  }

  /** A kernel's Column function: its expression builder over the columns. */
  def column(build: Seq[Expression] => Expression, columns: Column*): Column =
    ColumnBridge.column(build(columns.map(ColumnBridge.expression)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, ObjectType}

/** The one expression form of a per-row kernel: a static method on a Scala
  * object, called through Spark's own [[StaticInvoke]].
  *
  * `StaticInvoke` generates a direct call to the method, so a projection of
  * kernels stays inside WholeStageCodegen (a `CodegenFallback` expression
  * keeps its whole `Project` out of it and boxes every row). It also casts
  * each argument to its declared type at analysis where the analyzer allows
  * an implicit cast (`array<float>` → `array<double>`, and a number to its
  * decimal string for a string kernel), fails analysis where it does not
  * (`DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE`, e.g. an array passed to a
  * string kernel) and, when null-safe, returns NULL for a NULL argument
  * without calling the kernel.
  *
  * This carrier only names the call. It is `RuntimeReplaceable`, so the
  * optimizer's first batch swaps in the `StaticInvoke`, and
  * `InheritAnalysisRules` names the column `name(a, b)` after the invoke's
  * first `arity` arguments: the column arguments. Parameters (gram width,
  * robots agent, a model, a broadcast) follow them and stay out of the name.
  * The named arguments are derived from the replacement rather than stored,
  * so they are the analyzer's resolved children, not the Column API's
  * unresolved wrappers.
  *
  * Every per-row expression of the engine is built here, except
  * [[PiiProcessExpression]]: perfbench's trace counts the detector's rows by
  * matching that class in executed plans, so it stays a class (behind
  * [[Pinned]]) until the bench matches the static form.
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
    * typed by `inputTypes`. A parameter of a Spark literal type (number,
    * boolean, string) is passed as that literal; any other parameter (a
    * model, a stopword set, a broadcast) as an object literal typed by the
    * method's declared parameter class, so generated code names that class
    * and never an anonymous or inner one. The one builder behind both a
    * kernel's Column function and its SQL registration. `nullSafe` = a NULL
    * column yields NULL without a call; `nullableResult` = the method itself
    * may return null (a boxed or reference result). */
  def expr(name: String, kernel: AnyRef, method: String, dataType: DataType,
           inputTypes: Seq[DataType], columns: Seq[Expression], params: Seq[Any] = Nil,
           nullSafe: Boolean = true, nullableResult: Boolean = false): Expression = {
    require(columns.length == inputTypes.length,
      s"$name takes ${inputTypes.length} column argument(s), got ${columns.length}")
    val arity = columns.length + params.length
    val literals = params.zipWithIndex.map {
      case (p @ (_: java.lang.Number | _: java.lang.Boolean | _: String), _) => Literal(p)
      case (p, i) => Literal.create(p, ObjectType(declaredClass(kernel, method, arity, columns.length + i)))
    }
    StaticKernel(name, columns.length, StaticInvoke(kernel.getClass, dataType, method,
      columns ++ literals, inputTypes ++ literals.map(_.dataType),
      propagateNull = nullSafe, returnNullable = nullableResult))
  }

  /** The class `kernel.method` declares for its parameter `pos`; one class
    * across the method's overloads of that arity. */
  private def declaredClass(kernel: AnyRef, method: String, arity: Int, pos: Int): Class[_] =
    kernel.getClass.getMethods
      .filter(m => m.getName == method && m.getParameterCount == arity)
      .map(_.getParameterTypes()(pos)).distinct match {
        case Array(c) => c
        case cs => throw new IllegalArgumentException(
          s"${kernel.getClass.getName}.$method: parameter $pos must have one declared class, found ${cs.mkString(", ")}")
      }

  /** A kernel's Column function: its expression builder over the columns. */
  def column(build: Seq[Expression] => Expression, columns: Column*): Column =
    ColumnBridge.column(build(columns.map(ColumnBridge.expression)))
}

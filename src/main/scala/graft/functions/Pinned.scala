package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Expression, NamedExpression, Nondeterministic, PredicateHelper, SubqueryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{FILTER, PROJECT}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.DataType

/** An expensive per-row expression pinned NON-DETERMINISTIC although its
  * value is a pure function of its input. PushDownPredicates substitutes
  * aliases through projections with no cost guard, so a filter over several
  * fields of such a struct would inline the whole pass once PER FIELD
  * REFERENCE (measured: 15 evals/row of quality_signals_full in the curation
  * quality stage), and a filter over a join's projected kernel moves into
  * the join condition with the kernel inlined. The pin forbids the
  * optimizer from duplicating, reordering or substituting the expression, so
  * it is computed once per row and filters read its output. Values are pure;
  * only plan placement is constrained — and [[PushFiltersThroughPinned]]
  * gives back the placement that is safe: filters that do not read a pinned
  * output still sink below it.
  *
  * The wrapper is otherwise transparent: value, generated code, type,
  * nullability, SQL text and pretty name are the child's, so a pinned
  * static kernel stays inside WholeStageCodegen and its auto column name is
  * unchanged. Plans print it as `pinned(child)`. */
case class Pinned(child: Expression) extends UnaryExpression with Nondeterministic {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = child.prettyName
  override def sql: String = child.sql
  override def toString: String = s"pinned($child)"
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): Pinned =
    copy(child = newChild)
}

object Pinned {
  def column(c: Column): Column = ColumnBridge.column(Pinned(ColumnBridge.expression(c)))
}

/** Pushes the conjuncts of a deterministic filter that read no [[Pinned]]
  * output below a projection whose only non-deterministic fields are
  * aliased pins over deterministic inputs. Their values depend on the row
  * alone, so evaluating them on fewer rows changes nothing; a projection
  * holding any other non-deterministic field (rand,
  * monotonically_increasing_id) is left alone. Conjuncts are matched after
  * alias substitution, the way PushPredicateThroughNonJoin does it; those
  * that read a pinned output stay above. Runs in the operator-optimization
  * batch, so the standard pushdown rules carry the pushed part further. */
object PushFiltersThroughPinned extends Rule[LogicalPlan] with PredicateHelper {
  private def passable(field: NamedExpression): Boolean = field.deterministic || (field match {
    case Alias(Pinned(e), _) => e.deterministic
    case _ => false
  })

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(FILTER, PROJECT)) {
      case f @ Filter(cond, p @ Project(fields, child))
          if cond.deterministic && !SubqueryExpression.hasSubquery(cond) && fields.forall(passable) =>
        val aliases = getAliasMap(p)
        val (push, stay) = splitConjunctivePredicates(cond)
          .partition(c => replaceAlias(c, aliases).deterministic)
        if (push.isEmpty) f
        else {
          val below = p.copy(child = Filter(push.map(replaceAlias(_, aliases)).reduce(And), child))
          stay.reduceOption(And).fold[LogicalPlan](below)(Filter(_, below))
        }
    }
}

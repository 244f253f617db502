package graft

import graft.functions.Pinned
import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The plan invariant: no root-to-leaf path of an optimized plan holds two
  * canonically equal calls of a non-cheap kernel, so each kernel runs at
  * most once per row. Predicate pushdown substitutes aliases with no cost
  * guard; a pushed copy of a kernel shows up here as a second call on the
  * path. The non-cheap kernels are the static kernels (a `StaticInvoke` of
  * a graft object) and every [[Pinned]] child. Calls that one projection repeats count once:
  * subexpression elimination evaluates them once per row. A plan must also
  * hold no Scala UDF: every per-row kernel is a static kernel. */
object PlanInvariant {

  private def isKernel(e: Expression): Boolean = e match {
    case s: StaticInvoke => s.staticObject.getName.startsWith("graft.")
    case _ => false
  }

  /** The kernel calls in `e`, nested calls included; a pinned kernel counts
    * once. */
  def kernelCalls(e: Expression): Seq[Expression] = e match {
    case Pinned(c) => c +: c.children.flatMap(kernelCalls)
    case k if isKernel(k) => k +: k.children.flatMap(kernelCalls)
    case other => other.children.flatMap(kernelCalls)
  }

  /** Every kernel call that a path of `plan` (or of one of its subqueries)
    * holds more than once, described with the node where it repeats, and
    * every Scala UDF, with the node that calls it. */
  def violations(plan: LogicalPlan): Seq[String] = {
    def walk(node: LogicalPlan, seen: Map[Expression, Int]): Seq[String] = {
      val calls = node.expressions.flatMap(kernelCalls).map(_.canonicalized)
      val here = if (node.isInstanceOf[Project]) calls.distinct else calls
      val counts = here.foldLeft(seen)((m, k) => m.updated(k, m.getOrElse(k, 0) + 1))
      here.distinct.filter(counts(_) > 1)
        .map(k => s"${counts(k)}× $k on the path to ${node.nodeName}") ++
        node.children.flatMap(walk(_, counts))
    }
    val plans = plan +: plan.subqueriesAll
    val udfs = plans.flatMap(_.flatMap(node => node.expressions.flatMap(_.collect {
      case u: ScalaUDF => s"Scala UDF ${u.udfName.getOrElse(u.function.getClass.getName)} in ${node.nodeName}"
    })))
    (plans.flatMap(walk(_, Map.empty)) ++ udfs).distinct
  }

  /** Checks the optimized plan of every action a session runs, including
    * `localCheckpoint` and write commands. */
  final class Recorder extends QueryExecutionListener {
    private var plans = 0
    private val found = Seq.newBuilder[String]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val v = violations(qe.optimizedPlan).map(s => s"$funcName: $s")
      synchronized { plans += 1; found ++= v }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** (plans checked, violations) since the last call, once every event
      * posted so far has been delivered. */
    def take(spark: SparkSession): (Int, Seq[String]) = {
      ListenerBus.drain(spark.sparkContext)
      synchronized {
        val r = (plans, found.result())
        plans = 0
        found.clear()
        r
      }
    }
  }

  /** Runs `body` with a [[Recorder]] registered: (result, plans checked,
    * violations). */
  def check[T](spark: SparkSession)(body: => T): (T, Int, Seq[String]) = {
    val rec = new Recorder
    spark.listenerManager.register(rec)
    try {
      val r = body
      val (n, v) = rec.take(spark)
      (r, n, v)
    } finally spark.listenerManager.unregister(rec)
  }
}

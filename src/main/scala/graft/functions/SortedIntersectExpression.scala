package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** sorted_intersect_count(a, b) → |a ∩ b| for two ASCENDING-sorted long
  * arrays with distinct elements, by a single merge walk — the Jaccard
  * verify's per-pair kernel.
  *
  * `size(array_intersect(a, b))` built a hash set over one side PER PAIR:
  * at hundreds of thousands of candidate pairs per daily batch that is a
  * hash-set allocation plus ~2·|sh| hashed inserts/probes per pair, just to
  * be counted and thrown away. The merge walk is two pointers over the
  * sorted arrays — zero allocation, no hashing — and the sort is paid ONCE
  * per document (in the shingle-table projection), not once per pair.
  *
  * Correctness contract: both inputs must be sorted ascending with no
  * duplicate elements (shingle_hashes emits distinct hashes; the caller
  * sorts with sort_array). Under that contract the merge count equals
  * |a ∩ b| exactly — the same value array_intersect's size produced
  * (DedupSpec pins the identity against the hash-set form). A non-long-array
  * argument fails at analysis, not per task. Pinned ([[Pinned]]): a Jaccard
  * filter stays above the `_i` projection, out of the verify join's condition.
  */
object SortedIntersectFunctions {
  def sortedIntersectCount(x: ArrayData, y: ArrayData): Int = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < nx && j < ny) {
      val vx = x.getLong(i)
      val vy = y.getLong(j)
      if (vx == vy) { n += 1; i += 1; j += 1 }
      else if (vx < vy) i += 1
      else j += 1
    }
    n
  }

  private[graft] def sortedIntersectExpr(args: Seq[Expression]): Expression =
    Pinned(StaticKernel.expr("sorted_intersect_count", this, "sortedIntersectCount", IntegerType,
      Seq(ArrayType(LongType), ArrayType(LongType)), args))

  def sorted_intersect_count(a: Column, b: Column): Column =
    StaticKernel.column(sortedIntersectExpr, a, b)
}

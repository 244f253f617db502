package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** cosine_sim(a, b) → the cosine similarity of two float/double arrays,
  * fused into one pass per row.
  *
  * Value contract: BIT-IDENTICAL to the declarative form it replaces —
  *   dot = aggregate(zip_with(a, b, (x,y) => x*y), 0.0, +)
  *   sim = dot / (sqrt(aggregate(a,0.0,+x²)) * sqrt(aggregate(b,0.0,+y²)))
  * i.e. three LEFT-TO-RIGHT double folds from 0.0, the exact association
  * order DuckDB's list_cosine_similarity mirror also computes. The
  * declarative form paid interpreted per-element lambda evaluation
  * (higher-order functions are CodegenFallback) on EVERY scored candidate
  * pair — brute-force top-k, LSH/IVF probes, SemDeDup's within-cell
  * pairing, semantic decontamination; this is one static call with
  * primitive loops.
  *
  * An `array<float>` argument reaches the kernel through the analyzer's
  * implicit cast to `array<double>`: float → double widening is exact, so
  * the folds see the same values. Any other element type fails at analysis.
  *
  * NULL semantics: a NULL array, a NULL element, or mismatched lengths
  * yield NULL — the declarative form's zip_with/null-propagation verdicts
  * for those inputs (mismatched lengths zip a null past the shorter side,
  * nulling the dot fold). Pinned ([[Pinned]]): a threshold filter over a
  * join's `sim` stays above the projection, out of the join condition.
  */
object CosineFunctions {
  def cosineSim(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private[graft] def cosineExpr(args: Seq[Expression]): Expression =
    Pinned(StaticKernel.expr("cosine_sim", this, "cosineSim", DoubleType,
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)), args, nullableResult = true))

  def cosine_sim(a: Column, b: Column): Column = StaticKernel.column(cosineExpr, a, b)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** sign_lsh_buckets(embedding array<float>) → array<long> of `nTables`
  * sign-LSH bucket ids, one pass per row: for table t, bit b of the bucket
  * is set iff embedding · plane(t,b) > 0, with planes drawn from the same
  * seeded Gaussian as `Similarity.hyperplanes(nPlanes, dim, seedBase + t)`
  * (value-identical to the composed `Similarity.lshBucket` columns — pinned
  * by DedupSpec).
  *
  * The composed form builds nTables × nPlanes interpreted higher-order
  * `aggregate(zip_with(...))` expressions — ~100 closure evaluations per row
  * and a plan tree that dominates small-batch wall time. Here all dot
  * products run in one fused loop over the vector: O(nTables·nPlanes·dim)
  * multiply-adds with zero allocation beyond the output array. The input
  * is declared `array<float>`, so a wrong-typed embedding fails or is cast
  * at analysis instead of being read at the wrong element width.
  */
object SignLshBuckets {

  /** The kernel's parameters with their hyperplanes, built once per
    * deserialized instance. Equality is the parameters'. */
  final case class Planes(nTables: Int, nPlanes: Int, dim: Int, seedBase: Long) {
    require(nTables >= 1 && nPlanes >= 1 && nPlanes <= 63 && dim >= 1)

    // [table][plane * dim + d] — flat for cache-friendly fused dots
    @transient lazy val flat: Array[Array[Double]] =
      Array.tabulate(nTables) { t =>
        val ps = graft.operators.Similarity.hyperplanes(nPlanes, dim, seedBase + t)
        val flat = new Array[Double](nPlanes * dim)
        var b = 0
        while (b < nPlanes) {
          System.arraycopy(ps(b), 0, flat, b * dim, dim)
          b += 1
        }
        flat
      }
  }

  def buckets(arr: ArrayData, planes: Planes): ArrayData = {
    val dim = planes.dim
    val nPlanes = planes.nPlanes
    val n = math.min(arr.numElements(), dim)
    val v = new Array[Double](dim) // truncate/zero-pad to the plane dimension
    var i = 0
    while (i < n) { v(i) = arr.getFloat(i).toDouble; i += 1 }
    val tables = planes.flat
    val out = new Array[Long](tables.length)
    var t = 0
    while (t < out.length) {
      val flat = tables(t)
      var bucket = 0L
      var b = 0
      while (b < nPlanes) {
        var dot = 0.0
        val off = b * dim
        var d = 0
        while (d < dim) { dot += v(d) * flat(off + d); d += 1 }
        if (dot > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    ArrayData.toArrayData(out)
  }
}

object SignLshFunctions {
  def sign_lsh_buckets(c: Column, nTables: Int, nPlanes: Int, dim: Int,
                       seedBase: Long = 1000L): Column =
    StaticKernel.column(args => StaticKernel.expr("sign_lsh_buckets", SignLshBuckets, "buckets",
      ArrayType(LongType, containsNull = false), Seq(ArrayType(FloatType)), args,
      Seq(SignLshBuckets.Planes(nTables, nPlanes, dim, seedBase))), c)
}

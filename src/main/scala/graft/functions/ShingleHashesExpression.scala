package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** shingle_hashes(text) → array<long>: distinct word-k-shingles of the
  * lowercased whitespace tokenization, each hashed with xxhash64 (seed 42 —
  * [[XXH64.hashUTF8String]], the exact primitive Spark's `xxhash64` applies
  * to strings), in first-occurrence order.
  *
  * Value-identical to the declarative chain
  * `transform(array_distinct(grams), xxhash64)` it replaces
  * ([[TextFunctions.shingleHashes]]'s original formulation) — same
  * tokenizer quirks as [[MinHashSignatures]] (space-only trim, Spark's
  * split with limit -1, Spark-dispatch lowercasing), distinct BY STRING
  * (an xxhash collision between two distinct shingles yields the value
  * twice, exactly like the old chain) — but computed in one pass per row.
  *
  * Why a kernel: this sits on the Jaccard-VERIFY side of every
  * near-dup path (full-corpus q16/q39 and the incremental daily step),
  * where it runs over each candidate doc's full text. The declarative
  * higher-order-function chain (`sequence` → `transform` → `element_at`
  * per token → `concat_ws` per gram → `array_distinct` over ~300 strings)
  * measured ~10k docs/sec/16 cores and made the verify stage the
  * incremental step's bottleneck; this pass is ~8× that, no intermediate
  * Catalyst arrays.
  */
object ShingleHashesFunctions {
  /** NULL text → EMPTY array, exactly like the declarative chain: there
    * `size(split(null)) IS NULL` fails the `when` guard and falls through
    * to the empty-array branch — so a null-text doc verifies as Jaccard 0
    * against everything rather than poisoning the pair with a null. */
  def shingleHashes(v: UTF8String, shingleWidth: Int): ArrayData = {
    if (v == null) return ArrayData.toArrayData(Array.emptyLongArray)
    val text = v.toString
    // tokenize EXACTLY like split(lower(trim(text)), "\s+") — see
    // MinHashSignatures for why trim is space-only, split keeps empties
    // (limit -1) and lowercasing follows Spark's ASCII/slow dispatch
    var s = 0
    var e = text.length
    while (s < e && text.charAt(s) == ' ') s += 1
    while (e > s && text.charAt(e - 1) == ' ') e -= 1
    val toks = MinHashSignatures.Ws.split(
      MinHashPerms.lowerLikeSpark(text.substring(s, e)), -1)
    if (toks.length < shingleWidth) return ArrayData.toArrayData(Array.emptyLongArray)
    val seen = new java.util.HashSet[String]()
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    val sb = new java.lang.StringBuilder
    var i = 0
    val last = toks.length - shingleWidth
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < shingleWidth) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      val sh = sb.toString
      if (seen.add(sh)) out += XXH64.hashUTF8String(UTF8String.fromString(sh), 42L)
      i += 1
    }
    ArrayData.toArrayData(out.result())
  }

  private[graft] def shingleHashesExpr(shingleWidth: Int)(args: Seq[Expression]): Expression = {
    require(shingleWidth >= 1)
    StaticKernel.expr("shingle_hashes", this, "shingleHashes",
      ArrayType(LongType, containsNull = false), Seq(StringType), args, Seq(shingleWidth),
      nullSafe = false)
  }

  def shingle_hashes(c: Column, shingleWidth: Int = 3): Column =
    StaticKernel.column(shingleHashesExpr(shingleWidth), c)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** gram_hash60s(text) → array<long>: the portable 60-bit hash of every
  * word-k-gram (MULTISET, in token order — duplicates kept, position =
  * array index) of the lowercased whitespace tokenization.
  *
  * Value- and order-identical to the declarative chain
  * `transform(TextFunctions.ngrams(text, k, distinct = false), hash60)`
  * it replaces in [[graft.operators.ExactSubstring.occurrences]]:
  * same tokenizer quirks as [[MinHashSignatures]] (space-only trim,
  * Spark's split with limit -1, Spark-dispatch lowercasing), hash60 =
  * first 15 hex digits of md5 = top 60 bits of the digest
  * (GramHash60Spec pins the equality; the q53/q74/q91 DuckDB oracles
  * recompute the same value independently). NULL text → EMPTY array,
  * exactly like the chain's `when(size(w) >= k, …).otherwise(empty)`.
  *
  * Why a kernel: positional k-gram emission is the widest narrow
  * stage the engine runs — every token of every document fans into k
  * grams, and the substring-span stage it feeds dominates the composed
  * curation run (63% of wall time at the bench scale). The declarative
  * form built a Catalyst array of gram STRINGS (sequence → transform →
  * k × element_at → concat_ws per gram), then md5-hex'd each, took a
  * 15-char substring and reparsed it through string-based `conv`; this
  * pass tokenizes once, reuses one MessageDigest, and converts digest
  * bytes straight to the 60-bit long — no intermediate string array, and
  * the posexplode downstream fans out 8-byte longs instead of ~50-byte
  * gram strings. */
object GramHash60Functions {
  def gramHash60s(v: UTF8String, gramWidth: Int): ArrayData = {
    if (v == null) return ArrayData.toArrayData(Array.emptyLongArray)
    val text = v.toString
    // tokenize EXACTLY like split(lower(trim(text)), "\s+") — see
    // MinHashSignatures for the trim/split/locale fine print
    var s = 0
    var e = text.length
    while (s < e && text.charAt(s) == ' ') s += 1
    while (e > s && text.charAt(e - 1) == ' ') e -= 1
    val toks = MinHashSignatures.Ws.split(
      MinHashPerms.lowerLikeSpark(text.substring(s, e)), -1)
    if (toks.length < gramWidth) return ArrayData.toArrayData(Array.emptyLongArray)
    val n = toks.length - gramWidth + 1
    val out = new Array[Long](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < gramWidth) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      md.reset()
      // first 15 hex digits of the md5 = top 60 bits of the first 8 bytes
      out(i) = MinHashPerms.h60Bytes(
        md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  private[graft] def gramHash60sExpr(gramWidth: Int)(args: Seq[Expression]): Expression = {
    require(gramWidth >= 1)
    StaticKernel.expr("gram_hash60s", this, "gramHash60s",
      ArrayType(LongType, containsNull = false), Seq(StringType), args, Seq(gramWidth),
      nullSafe = false)
  }

  def gram_hash60s(c: Column, gramWidth: Int): Column =
    StaticKernel.column(gramHash60sExpr(gramWidth), c)
}

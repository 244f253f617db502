package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `simhash60(text)` → the 60-bit SimHash of the lowered whitespace token
  * stream, computed in ONE pass per row.
  *
  * Value-identical to the declarative explode/groupBy formulation it
  * replaced (kept as [[graft.operators.Dedup.simhash64Declarative]],
  * equality pinned in DedupSpec): per token OCCURRENCE (multiset — repetition
  * votes repeatedly), each of the 60 bits of hash60(token) votes +1 if set
  * else −1; output bit b is set iff its vote sum is strictly positive.
  *
  * SimHash is a pure per-document function, so the old shape — explode every
  * token, shuffle (id, hash) pairs, 60-column vote aggregation — paid a
  * corpus-wide token-grain shuffle for what a narrow map computes locally.
  * At crawl scale that shuffle is ~tokens × 16 bytes of exchange traffic
  * (guide §2.4: remove shuffles outright); here it also drops the whole
  * two-phase aggregation. Tokenization and hashing reuse the exact
  * Spark-parity helpers of [[MinHashSignatures]] (space-only trim,
  * `lowerLikeSpark`, split limit −1, md5-60) so the value identity holds on
  * every input the declarative form accepts. */
object SimHashFunctions {
  def simHash60(v: UTF8String): Long = {
    val text = v.toString
    // Spark's trim(): strips only ' ' (not \t/\n) — then lower, then split
    // keeping leading/trailing empty tokens (Pattern.split limit -1), so an
    // empty or all-space doc yields ONE "" token exactly like the explode.
    var s = 0
    var e = text.length
    while (s < e && text.charAt(s) == ' ') s += 1
    while (e > s && text.charAt(e - 1) == ' ') e -= 1
    val toks = MinHashSignatures.Ws.split(
      MinHashPerms.lowerLikeSpark(text.substring(s, e)), -1)
    val votes = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < toks.length) {
      md.reset()
      val h = MinHashPerms.h60Bytes(
        md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  private[graft] def simhash60Expr(args: Seq[Expression]): Expression =
    StaticKernel.expr("simhash60", this, "simHash60", LongType, Seq(StringType), args)

  def simhash60(c: Column): Column = StaticKernel.column(simhash60Expr, c)
}

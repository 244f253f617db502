package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** minhash_sigs(text) → array<long> of k MinHash signature values, computed
  * in ONE pass per row: tokenize → distinct word-k-shingles → ONE md5-based
  * 60-bit base hash per shingle → k arithmetic permutations, keeping each
  * permutation's min.
  *
  * Value-identical to the long-form explode/groupBy formulation
  * (Dedup.minhashSignatures): h_i(s) = (a_i · hash60(s) + b_i) mod 2⁶¹−1,
  * the classic universal-hash permutation family (Broder 1997) — but with
  * no explode, no shuffle, no intermediate (id × perm × shingle) rows. At
  * crawl scale this turns the signature stage from a multi-TB shuffle into
  * a narrow map, and the one-digest-per-shingle form cuts the stage's CPU
  * ~an order of magnitude vs the earlier k-digests-per-shingle convention
  * (md5(s + "#" + i), which spent 16 md5 block computations per shingle).
  * `minhash_sigs` pins it ([[Pinned]]): the short-doc sentinel filter over
  * `sigs` then stays above the projection instead of a second pass.
  */
case class MinHashSignatures(child: Expression, k: Int, shingleWidth: Int)
    extends UnaryExpression with CodegenFallback
    with org.apache.spark.sql.graftshim.ExpectsStringInput {
  require(k >= 1 && shingleWidth >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    // Tokenize EXACTLY like the long form / SQL oracle, i.e. Spark's
    // split(lower(trim(text)), "\s+"): trim strips only ' ' (not \t/\n like
    // JVM String.trim), and split keeps leading/trailing empty tokens
    // (Pattern.split limit -1, unlike String.split's trailing-empty drop).
    // Crawl text with leading/trailing \t or \n must shingle identically.
    var s = 0
    var e = text.length
    while (s < e && text.charAt(s) == ' ') s += 1
    while (e > s && text.charAt(e - 1) == ' ') e -= 1
    // lowerLikeSpark replicates Spark's lower() dispatch: ASCII input
    // lowers locale-independently (Spark's fast path), non-ASCII falls to
    // default-locale toLowerCase (Spark's slow path) — Locale.ROOT there
    // would diverge under e.g. a tr-TR JVM (İ dotting rules), and a bare
    // toLowerCase() would diverge on ASCII under the same locale
    val toks = MinHashSignatures.Ws.split(
      MinHashPerms.lowerLikeSpark(text.substring(s, e)), -1)
    val sigs = Array.fill(k)(Long.MaxValue)
    if (toks.length >= shingleWidth) {
      val md = java.security.MessageDigest.getInstance("MD5")
      // Per-token UTF-8 bytes encoded ONCE: md5 over the concatenation of
      // token encodings with a 0x20 separator is byte-identical to md5 of
      // the joined shingle string's encoding (UTF-8 encodes characters
      // independently, and whitespace tokenization never splits a
      // surrogate pair), so the per-distinct-shingle getBytes encode+alloc
      // is gone, and the digest lands in a reusable buffer instead of a
      // fresh 16-byte array per shingle. The distinct-shingle String set
      // STAYS: the corpus carries enough repeated shingles that paying
      // md5 per occurrence (a value-neutral trade — min over a multiset
      // equals min over its set) measured slower than deduping first.
      val tokBytes = new Array[Array[Byte]](toks.length)
      var t = 0
      while (t < toks.length) {
        tokBytes(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        t += 1
      }
      val seen = new java.util.HashSet[String]()
      val sb = new java.lang.StringBuilder
      val out = new Array[Byte](16)
      var i = 0
      val last = toks.length - shingleWidth
      while (i <= last) {
        sb.setLength(0)
        var j = 0
        while (j < shingleWidth) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        if (seen.add(sb.toString)) {
          md.reset()
          var b = 0
          while (b < shingleWidth) {
            if (b > 0) md.update(' '.toByte)
            md.update(tokBytes(i + b)); b += 1
          }
          md.digest(out, 0, 16)
          // first 15 hex digits = top 60 bits of the first 8 bytes
          val h = MinHashPerms.h60Bytes(out)
          var p = 0
          while (p < k) {
            val v = MinHashPerms.permute(as(p), bs(p), h)
            if (v < sigs(p)) sigs(p) = v
            p += 1
          }
        }
        i += 1
      }
    }
    ArrayData.toArrayData(sigs)
  }

  @transient private lazy val as: Array[Long] = Array.tabulate(k)(MinHashPerms.a)
  @transient private lazy val bs: Array[Long] = Array.tabulate(k)(MinHashPerms.b)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignatures {
  /** Same pattern Spark's split uses; compiled once per JVM. */
  private[functions] val Ws = java.util.regex.Pattern.compile("\\s+")
}

/** The MinHash permutation family h_i(s) = (a_i · hash60(s) + b_i) mod P,
  * P = 2⁶¹−1 (Mersenne). The constants themselves derive from the same
  * portable md5-60 primitive the DuckDB oracles share, so both engines
  * CONSTRUCT them rather than copy a literal table:
  *   a_i = 2 · hash60("a" + i) + 1   (odd, 0 < a_i < P)
  *   b_i = hash60("b" + i)
  * SQL mirror (see the q14–q16 oracles): HUGEINT arithmetic
  * `(pa::HUGEINT * h + pb) % 2305843009213693951`. */
object MinHashPerms {
  val P: Long = (1L << 61) - 1

  /** Top 60 bits of an md5 digest's first 8 bytes (== the value of the
    * first 15 hex digits) — THE portable hash primitive every persisted
    * key in the engine shares with the DuckDB oracles. One implementation
    * so the eval paths (minhash, gram hashes, the permutation constants)
    * cannot drift from each other. */
  @inline def h60Bytes(d: Array[Byte]): Long = {
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v >>> 4
  }

  /** Lowercase EXACTLY like Spark's `lower()` (UTF8String.toLowerCase):
    * full-ASCII input takes a locale-INDEPENDENT 'A'–'Z' fast path; only
    * non-ASCII input falls to default-locale String.toLowerCase (which is
    * what UTF8String.toLowerCaseSlow does). A bare String.toLowerCase()
    * would diverge on ASCII under a tr-TR default locale ("WIFI" →
    * "wıfı" with dotless ı, where Spark's ASCII path gives "wifi") —
    * breaking the value-identity these expressions pin against the
    * declarative forms and the SQL oracles. */
  def lowerLikeSpark(s: String): String = {
    var i = 0
    val n = s.length
    var ascii = true
    while (i < n && ascii) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (!ascii) s.toLowerCase()
    else {
      val arr = s.toCharArray
      var j = 0
      while (j < n) {
        val c = arr(j)
        if (c >= 'A' && c <= 'Z') arr(j) = (c + 32).toChar
        j += 1
      }
      new String(arr)
    }
  }

  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    h60Bytes(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  def a(i: Int): Long = h60("a" + i) * 2 + 1
  def b(i: Int): Long = h60("b" + i)

  /** (a·h + b) mod P, exact over the full 121-bit product: the high word
    * comes from Math.multiplyHigh (a, h both positive → equals the unsigned
    * high word), and 2⁶⁴ ≡ 8 (mod 2⁶¹−1) folds it back in. */
  def permute(a: Long, b: Long, h: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    // a < 2⁶¹, h < 2⁶⁰ → hi < 2⁵⁷, so 8·hi + (lo >>> 61) + (lo & P) < 2⁶² — no overflow
    var r = 8L * hi + (lo >>> 61) + (lo & P)
    while (r >= P) r -= P
    r += b
    if (r >= P) r -= P
    r
  }
}

object MinHashFunctions {
  def minhash_sigs(c: Column, k: Int = 16, shingleWidth: Int = 3): Column =
    StaticKernel.column(args => Pinned(MinHashSignatures(args.head, k, shingleWidth)), c)
}

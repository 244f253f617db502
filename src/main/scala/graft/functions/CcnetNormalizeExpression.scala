package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** CCNet paragraph-normalization key (Wenzek et al. 2020 §4.1: their dedup
  * hashes a normalized form of each paragraph so case, digits, punctuation
  * and accent variants of the same boilerplate collapse to one key):
  *
  *   lowercase (ROOT locale) → NFD accent-fold (strip combining marks) →
  *   every decimal digit → '0' → drop everything that is neither a
  *   letter/digit nor whitespace → collapse whitespace runs to one space →
  *   trim.
  *
  * "Share on FACEBOOK - 1,234 Likes!" and "share   on facebook 0000 likes"
  * both become "share on facebook 0000 likes".
  *
  * On ASCII input every step is mirrored exactly by portable SQL
  * (`lower` + three `regexp_replace`, with the whitespace class spelled
  * out as `[ \t\x0b-\x0d\x1c-\x1f]` — every ASCII code point
  * `Character.isWhitespace` accepts, since the JVM treats a stray `\r` or
  * `\f` as a word separator while a naive `[ \t]` mirror would DELETE it
  * and fuse the neighboring words); that is how the q78/q83 DuckDB
  * oracles check the dedup built on this key end-to-end. The non-ASCII
  * behavior (accent folding, Unicode digit classes) is pinned by
  * CcnetNormalizeSpec and CcnetFuzzSpec on the JVM side.
  *
  * Narrow per-row work with an ASCII fast path (no NFD pass when the input
  * has no high code point) — fits the scan stage; the produced key feeds a
  * single 8-byte hash, so the dedup shuffle never carries the text.
  * Pinned ([[Pinned]]): a Bloom probe over the line digest stays above it.
  */
object CcnetNormalize {

  /** Single-pass normalization; allocates only the output builder. */
  def normalize(s: String): String = {
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    // NFD only when non-ASCII is present: ASCII is NFD-invariant, and web
    // corpora are dominantly ASCII after HTML extraction.
    var hasHigh = false
    var j = 0
    while (j < lower.length && !hasHigh) {
      if (lower.charAt(j) >= 0x80) hasHigh = true
      j += 1
    }
    val src = if (hasHigh) Normalizer.normalize(lower, Normalizer.Form.NFD) else lower
    val sb = new java.lang.StringBuilder(src.length)
    var pendingSpace = false
    var i = 0
    while (i < src.length) {
      val cp = src.codePointAt(i)
      if (Character.isWhitespace(cp)) {
        pendingSpace = sb.length() > 0
      } else if (Character.isDigit(cp)) {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append('0')
      } else if (Character.isLetter(cp)) {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.appendCodePoint(cp)
      }
      // combining marks (NFD residue), punctuation, symbols, controls: drop
      i += Character.charCount(cp)
    }
    sb.toString
  }

  def normalize(u: UTF8String): UTF8String = UTF8String.fromString(normalize(u.toString))

  private[graft] def ccnetNormalizeExpr(args: Seq[Expression]): Expression =
    Pinned(StaticKernel.expr("ccnet_normalize", this, "normalize", StringType, Seq(StringType), args))

  def ccnet_normalize(c: Column): Column = StaticKernel.column(ccnetNormalizeExpr, c)
}

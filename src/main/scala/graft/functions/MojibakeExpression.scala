package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Mojibake repair (the ftfy `fix_encoding` core, reimplemented from the
  * published heuristic): crawl text routinely contains UTF-8 bytes that some
  * upstream system decoded as Windows-1252/Latin-1 — "café" arrives as
  * "cafÃ©", "—" as "â€”". The repair inverts the mistake where it is
  * provable: map each character back to its cp1252 byte, and when a maximal
  * run of non-ASCII mappable characters forms a COMPLETE, STRICTLY valid
  * UTF-8 sequence, replace the run with its UTF-8 decoding.
  *
  * Safety properties (spec-pinned):
  *  - ASCII never changes (mojibake of non-ASCII code points is entirely
  *    non-ASCII bytes, so runs never cross ASCII chars);
  *  - correctly-encoded text is a fixpoint: a lone accented char ("café")
  *    is a single byte ≥ 0x80 — never valid UTF-8 on its own; adjacent
  *    accented pairs ("ÅÆ" → C5 C6) fail the continuation-byte check;
  *  - unmappable chars (CJK, Cyrillic, emoji) break the run — already-
  *    correct multilingual text is untouched;
  *  - strictness rejects overlongs, surrogates and > U+10FFFF, so no
  *    repair ever produces text that a strict UTF-8 writer would refuse.
  *
  * Double-encoded text (two bad decodes) repairs in two passes; the loop
  * runs to fixpoint, capped at 3 (ftfy's own default recursion bound).
  * Narrow per-row work with an ASCII fast path — fits the scan stage.
  */
object FixMojibake {

  /** Decoded char for each cp1252 byte 0x80+i (Java decode semantics: the
    * five undefined bytes 0x81/8D/8F/90/9D map to their own control chars).
    */
  private val Cp1252High: Array[Int] = Array(
    0x20AC, 0x0081, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008D, 0x017D, 0x008F,
    0x0090, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x009D, 0x017E, 0x0178)

  private val ByteOf: java.util.HashMap[Character, Integer] = {
    val m = new java.util.HashMap[Character, Integer](64)
    var i = 0
    while (i < Cp1252High.length) {
      m.put(Cp1252High(i).toChar, 0x80 + i)
      i += 1
    }
    m
  }

  @inline private def byteOf(c: Char): Int =
    if (c < 0x80) c
    else if (c >= 0xA0 && c <= 0xFF) c
    else { val v = ByteOf.get(c); if (v == null) -1 else v.intValue() }

  /** One repair pass; returns the SAME reference when nothing changed. */
  private[functions] def repairOnce(s: String): String = {
    // fast path: mojibake always contains a char mapping to a UTF-8 lead
    // byte (0xC2–0xF4)
    var probe = 0
    var hasLead = false
    while (!hasLead && probe < s.length) {
      val b = byteOf(s.charAt(probe))
      if (b >= 0xC2 && b <= 0xF4) hasLead = true
      probe += 1
    }
    if (!hasLead) return s

    val sb = new java.lang.StringBuilder(s.length)
    val buf = new Array[Byte](s.length)
    var changed = false
    var i = 0
    val n = s.length
    while (i < n) {
      val b = byteOf(s.charAt(i))
      if (b < 0x80) { // ASCII or unmappable: copy verbatim
        sb.append(s.charAt(i))
        i += 1
      } else {
        // maximal run of mappable non-ASCII chars
        var j = i
        var len = 0
        var bj = b
        while (j < n && bj >= 0x80) {
          buf(len) = bj.toByte
          len += 1
          j += 1
          bj = if (j < n) byteOf(s.charAt(j)) else -1
        }
        val decoded = if (len >= 2) decodeUtf8Strict(buf, len) else null
        if (decoded != null && decoded != s.substring(i, j)) {
          sb.append(decoded)
          changed = true
        } else sb.append(s, i, j)
        i = j
      }
    }
    if (changed) sb.toString else s
  }

  /** Strict UTF-8 decode of buf[0, len): null on ANY malformed, overlong,
    * surrogate, out-of-range or incomplete sequence. */
  private[functions] def decodeUtf8Strict(buf: Array[Byte], len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) {
      val x = buf(i) & 0xFF
      if (x < 0x80) { sb.append(x.toChar); i += 1 }
      else if (x < 0xC2) return null // bare continuation / overlong lead
      else if (x < 0xE0) {
        if (i + 1 >= len) return null
        val c1 = buf(i + 1) & 0xFF
        if (c1 < 0x80 || c1 > 0xBF) return null
        sb.append((((x & 0x1F) << 6) | (c1 & 0x3F)).toChar)
        i += 2
      } else if (x < 0xF0) {
        if (i + 2 >= len) return null
        val c1 = buf(i + 1) & 0xFF
        val c2 = buf(i + 2) & 0xFF
        if (c1 < 0x80 || c1 > 0xBF || c2 < 0x80 || c2 > 0xBF) return null
        if (x == 0xE0 && c1 < 0xA0) return null // overlong
        if (x == 0xED && c1 >= 0xA0) return null // surrogate
        sb.append((((x & 0x0F) << 12) | ((c1 & 0x3F) << 6) | (c2 & 0x3F)).toChar)
        i += 3
      } else if (x < 0xF5) {
        if (i + 3 >= len) return null
        val c1 = buf(i + 1) & 0xFF
        val c2 = buf(i + 2) & 0xFF
        val c3 = buf(i + 3) & 0xFF
        if (c1 < 0x80 || c1 > 0xBF || c2 < 0x80 || c2 > 0xBF ||
          c3 < 0x80 || c3 > 0xBF) return null
        if (x == 0xF0 && c1 < 0x90) return null // overlong
        if (x == 0xF4 && c1 > 0x8F) return null // > U+10FFFF
        val cp = ((x & 0x07) << 18) | ((c1 & 0x3F) << 12) | ((c2 & 0x3F) << 6) | (c3 & 0x3F)
        sb.appendCodePoint(cp)
        i += 4
      } else return null
    }
    sb.toString
  }

  def fix(u: UTF8String): UTF8String = {
    val s = u.toString
    var cur = s
    var rounds = 0
    var changed = true
    while (changed && rounds < 3) {
      val next = repairOnce(cur)
      changed = next ne cur
      if (changed) cur = next
      rounds += 1
    }
    if (cur eq s) u else UTF8String.fromString(cur)
  }

  private[graft] def fixMojibakeExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("fix_mojibake", this, "fix", StringType, Seq(StringType), args)

  def fix_mojibake(c: Column): Column = StaticKernel.column(fixMojibakeExpr, c)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Korean resident-registration-number (주민등록번호) checksum validation:
  * 13 digits d1..d13, weights 2,3,4,5,6,7,8,9,2,3,4,5 over d1..d12, check
  * digit `(11 - (Σ wᵢdᵢ mod 11)) mod 10 == d13`. The reference detector's
  * RRN regex (`regex_pii_detector.py` 주민등록번호 semantics,
  * `PiiPatterns`) is shape-only — `YYMMDD-gNNNNNN` — so any plausible
  * 13-digit string scrubs; the checksum rejects ~90% of random digit
  * strings, the same false-positive gate [[LuhnValid]] gives cards.
  *
  * Caveat, documented honestly: RRNs ISSUED after October 2020 carry
  * random final digits (the checksum was abolished), so this is a
  * confidence SIGNAL for triage/ranking, not a validity proof — numbers
  * in web text overwhelmingly predate the change. Gender digit d7 is
  * additionally required to be 1-8 (9/0 encode 1800s births — no living
  * bearer, so they're treated as invalid here). Foreign-registration
  * numbers under the pre-2020 ARC scheme verify with the check value
  * shifted by +2 — [[RrnValid.checkArc]]; the scrub gate accepts either.
  *
  * Accepts an optional single `-` between d6 and d7 (the regex's surface
  * form); any other non-digit, or a digit count ≠ 13, → false.
  */
object RrnValid {

  /** Shape parse: exactly 13 digits with at most one '-' at the 6|7
    * boundary; null on any violation. */
  private def parse(s: String): Array[Int] = {
    val digits = new Array[Int](13)
    var n = 0
    var seenSep = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') {
        if (n >= 13) return null
        digits(n) = c - '0'
        n += 1
      } else if (c == '-') {
        // at most ONE separator, only between date and suffix
        if (n != 6 || seenSep) return null
        seenSep = true
      } else {
        return null
      }
      i += 1
    }
    if (n != 13) null else digits
  }

  /** The string has the full 13-digit shape (checksum-eligible) — used by
    * the strict scrub gate to decide whether a checksum verdict applies at
    * all (masked / partial / OCR-damaged forms are not eligible). */
  def eligible(s: String): Boolean = parse(s) != null

  private def weightedSum(d: Array[Int]): Int = {
    var sum = 0
    var k = 0
    while (k < 12) { sum += (k % 8 + 2) * d(k); k += 1 }
    sum
  }

  /** Single pass; allows one '-' separator at the 6|7 boundary only. */
  def check(s: String): Boolean = {
    val d = parse(s)
    if (d == null) return false
    val g = d(6)
    if (g < 1 || g > 8) return false // 9/0 = 1800s births, no living bearer
    (11 - weightedSum(d) % 11) % 10 == d(12)
  }

  /** The pre-2020 foreign-registration (ARC) variant: gender digit 5-8 and
    * the check value shifted by +2 (mod 10). */
  def checkArc(s: String): Boolean = {
    val d = parse(s)
    if (d == null) return false
    val g = d(6)
    if (g < 5 || g > 8) return false
    ((11 - weightedSum(d) % 11) % 10 + 2) % 10 == d(12)
  }

  def check(u: UTF8String): Boolean = check(u.toString)

  private[graft] def rrnValidExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("rrn_valid", this, "check", BooleanType, Seq(StringType), args)

  def rrn_valid(c: Column): Column = StaticKernel.column(rrnValidExpr, c)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Luhn (mod-10) checksum validation for card-number candidates (ISO/IEC
  * 7812-1). The regex layer (reference `regex_pii_detector.py:137-145`
  * semantics, `PiiPatterns.cardPattern`) checks only the 4-4-4-4 surface
  * shape, so a random 16-digit invoice/tracking number scrubs as a
  * "card"; production PII pipelines gate the regex hit on the checksum —
  * 90% of random digit strings fail it, while every real PAN passes.
  *
  * Accepts `-`, `.`, space and tab as group separators; any OTHER
  * non-digit — including the newlines `cardPattern`'s `\s*` can match
  * across, which this function deliberately treats as NOT
  * checksum-eligible (the strict scrub then redacts such spans
  * unconditionally: recall over precision for odd shapes) — or a digit
  * count outside [13,19] → false. The range is wider than the detector's
  * 16-digit spans on purpose: `luhn_valid` is also a standalone SQL
  * function for callers validating Amex-15 / Maestro-13..19 candidates.
  * Narrow per-row work, no allocation beyond the input scan — fits the
  * scan stage next to the detector expressions.
  */
object LuhnValid {

  /** Single right-to-left pass; doubles every second digit from the check
    * digit, folding >9 by subtracting 9. */
  def check(s: String): Boolean = {
    var sum = 0
    var nDigits = 0
    var i = s.length - 1
    while (i >= 0) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') {
        val d = c - '0'
        val v = if (nDigits % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
        sum += v
        nDigits += 1
      } else if (c != '-' && c != '.' && c != ' ' && c != '\t') {
        return false
      }
      i -= 1
    }
    nDigits >= 13 && nDigits <= 19 && sum % 10 == 0
  }

  def check(u: UTF8String): Boolean = check(u.toString)

  private[graft] def luhnValidExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("luhn_valid", this, "check", BooleanType, Seq(StringType), args)

  def luhn_valid(c: Column): Column = StaticKernel.column(luhnValidExpr, c)
}

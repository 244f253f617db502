package graft

import graft.filter.LangIdModel
import graft.functions.{CcnetNormalize, DeflateRatio, ExtractLinks, LuhnValid, NfcNormalize, PiiFunctions, PushFiltersThroughPinned, QualityFunctions, RepetitionRatio, RrnValid, WinnowFingerprint}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension packaging: register the engine's Catalyst expressions as
  * SQL functions without touching application code —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * Then `SELECT scrub_pii(text) FROM pages` works from pure SQL (including
  * thrift/JDBC sessions). A static kernel registers the same expression
  * builder its Column function calls, so the SQL and Column forms cannot
  * drift; a pinned kernel's builder returns its [[graft.functions.Pinned]]
  * wrapper, so SQL calls are pinned too. It also injects the optimizer rule
  * [[graft.functions.PushFiltersThroughPinned]] into the operator-optimization
  * batch, where it iterates with PushDownPredicates: filters that read no
  * pinned output sink below the pinned projections. Every
  * GraftSession.local session is built with these extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PushFiltersThroughPinned)
    e.injectFunction((FunctionIdentifier("detect_pii"),
      info("detect_pii", "detect_pii(text) - 12-category PII detection struct"),
      PiiFunctions.detectPiiExpr))
    e.injectFunction((FunctionIdentifier("scrub_pii"),
      info("scrub_pii", "scrub_pii(text) - text with PII spans redacted"),
      PiiFunctions.scrubPiiExpr))
    e.injectFunction((FunctionIdentifier("repetition_ratio"),
      info("repetition_ratio", "repetition_ratio(text) - top word-2gram frequency share"),
      RepetitionRatio.repetitionRatioExpr(2)))
    e.injectFunction((FunctionIdentifier("langid"),
      info("langid", "langid(text) - struct(lang, confidence). " +
        "Pinned: non-deterministic at analysis, so the optimizer evaluates it once per row " +
        "and it is allowed only in Project, Filter, Aggregate or Window: not in " +
        "ORDER BY, join conditions or generators (alias it in a subquery first)"),
      QualityFunctions.langidExpr(LangIdModel.default)))
    e.injectFunction((FunctionIdentifier("winnow_fingerprint"),
      info("winnow_fingerprint", "winnow_fingerprint(text) - rolling-hash fingerprint set"),
      WinnowFingerprint.winnowFingerprintExpr(8, 16)))
    e.injectFunction((FunctionIdentifier("deflate_ratio"),
      info("deflate_ratio", "deflate_ratio(text) - compressed/raw size (low = repetitive)"),
      DeflateRatio.deflateRatioExpr))
    e.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(text) - Unicode NFC form (dedup-stable bytes)"),
      NfcNormalize.nfcNormalizeExpr))
    e.injectFunction((FunctionIdentifier("ccnet_normalize"),
      info("ccnet_normalize", "ccnet_normalize(text) - CCNet paragraph-dedup key (lowercase, accent/digit-fold, punct-strip). " +
        "Pinned like langid, with the same SQL restriction"),
      CcnetNormalize.ccnetNormalizeExpr))
    e.injectFunction((FunctionIdentifier("luhn_valid"),
      info("luhn_valid", "luhn_valid(card) - ISO/IEC 7812-1 mod-10 checksum over a card-number candidate"),
      LuhnValid.luhnValidExpr))
    e.injectFunction((FunctionIdentifier("scrub_pii_strict"),
      info("scrub_pii_strict", "scrub_pii_strict(text) - scrub_pii with checksum-gated card/RRN spans (Luhn, RRN mod-11)"),
      PiiFunctions.scrubPiiStrictExpr))
    e.injectFunction((FunctionIdentifier("rrn_valid"),
      info("rrn_valid", "rrn_valid(rrn) - Korean RRN weighted mod-11 checksum + gender-digit rule"),
      RrnValid.rrnValidExpr))
    e.injectFunction((FunctionIdentifier("extract_links"),
      info("extract_links", "extract_links(html) - href values of <a> tags, document order"),
      ExtractLinks.extractLinksExpr))
    e.injectFunction((FunctionIdentifier("extract_link_anchors"),
      info("extract_link_anchors", "extract_link_anchors(html) - array<struct<href,anchor>> of <a href> tags"),
      ExtractLinks.extractLinkAnchorsExpr))
  }
}

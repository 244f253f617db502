package graft

import graft.filter.LangIdModel
import graft.functions.{CcnetNormalize, DeflateRatio, LangIdExpression, LuhnValid, NfcNormalize, PiiDetectExpression, PiiScrubExpression, PushFiltersThroughPinned, RepetitionRatio, RrnValid, WinnowFingerprint}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension packaging: register the engine's Catalyst expressions as
  * SQL functions without touching application code —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * Then `SELECT scrub_pii(text) FROM pages` works from pure SQL (including
  * thrift/JDBC sessions). It also injects the optimizer rule
  * [[graft.functions.PushFiltersThroughPinned]] into the operator-optimization
  * batch, where it iterates with PushDownPredicates: filters that read no
  * pinned expression's output sink below the pinned projections. Every
  * GraftSession.local session is built with these extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PushFiltersThroughPinned)
    e.injectFunction((FunctionIdentifier("detect_pii"),
      info("detect_pii", "detect_pii(text) - 12-category PII detection struct"),
      (args: Seq[Expression]) => PiiDetectExpression(args.head)))
    e.injectFunction((FunctionIdentifier("scrub_pii"),
      info("scrub_pii", "scrub_pii(text) - text with PII spans redacted"),
      (args: Seq[Expression]) => PiiScrubExpression(args.head)))
    e.injectFunction((FunctionIdentifier("repetition_ratio"),
      info("repetition_ratio", "repetition_ratio(text) - top word-2gram frequency share"),
      (args: Seq[Expression]) => RepetitionRatio(args.head, 2)))
    e.injectFunction((FunctionIdentifier("langid"),
      info("langid", "langid(text) - struct(lang, confidence). " +
        "Non-deterministic (pinned so the optimizer evaluates it once per row), " +
        "so it is allowed only in Project, Filter, Aggregate or Window: not in " +
        "ORDER BY, join conditions or generators (alias it in a subquery first)"),
      (args: Seq[Expression]) => LangIdExpression(args.head, LangIdModel.default)))
    e.injectFunction((FunctionIdentifier("winnow_fingerprint"),
      info("winnow_fingerprint", "winnow_fingerprint(text) - rolling-hash fingerprint set"),
      (args: Seq[Expression]) => WinnowFingerprint(args.head, 8, 16)))
    e.injectFunction((FunctionIdentifier("deflate_ratio"),
      info("deflate_ratio", "deflate_ratio(text) - compressed/raw size (low = repetitive)"),
      (args: Seq[Expression]) => DeflateRatio(args.head)))
    e.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(text) - Unicode NFC form (dedup-stable bytes)"),
      (args: Seq[Expression]) => NfcNormalize(args.head)))
    e.injectFunction((FunctionIdentifier("ccnet_normalize"),
      info("ccnet_normalize", "ccnet_normalize(text) - CCNet paragraph-dedup key (lowercase, accent/digit-fold, punct-strip)"),
      (args: Seq[Expression]) => CcnetNormalize(args.head)))
    e.injectFunction((FunctionIdentifier("luhn_valid"),
      info("luhn_valid", "luhn_valid(card) - ISO/IEC 7812-1 mod-10 checksum over a card-number candidate"),
      (args: Seq[Expression]) => LuhnValid(args.head)))
    e.injectFunction((FunctionIdentifier("scrub_pii_strict"),
      info("scrub_pii_strict", "scrub_pii_strict(text) - scrub_pii with checksum-gated card/RRN spans (Luhn, RRN mod-11)"),
      (args: Seq[Expression]) => graft.functions.PiiScrubStrictExpression(args.head)))
    e.injectFunction((FunctionIdentifier("rrn_valid"),
      info("rrn_valid", "rrn_valid(rrn) - Korean RRN weighted mod-11 checksum + gender-digit rule"),
      (args: Seq[Expression]) => RrnValid(args.head)))
    e.injectFunction((FunctionIdentifier("extract_links"),
      info("extract_links", "extract_links(html) - href values of <a> tags, document order"),
      (args: Seq[Expression]) => graft.functions.ExtractLinks(args.head)))
    e.injectFunction((FunctionIdentifier("extract_link_anchors"),
      info("extract_link_anchors", "extract_link_anchors(html) - array<struct<href,anchor>> of <a href> tags"),
      (args: Seq[Expression]) => graft.functions.ExtractLinkAnchors(args.head)))
  }
}

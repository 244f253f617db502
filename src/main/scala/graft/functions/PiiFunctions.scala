package graft.functions

import graft.core.{PiiCategories, PiiDetector}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object PiiSchema {
  val resultType: StructType = StructType(
    PiiCategories.names.map(n => StructField(n, ArrayType(StringType, containsNull = false), nullable = true)))
}

/** process_pii(text) → struct(text_scrubbed string, n_pii int): detection and
  * redaction from ONE detector pass (detect_pii + scrub_pii as separate
  * columns would each run the full pattern battery). The pipeline's hot path.
  *
  * It stays an expression class, unlike every other per-row kernel
  * ([[StaticKernel]]): perfbench's trace counts the detector's input rows by
  * finding this class in executed plans. Its generated code is one call of
  * [[PiiFunctions.process]], so its projection stays inside
  * WholeStageCodegen. */
case class PiiProcessExpression(child: Expression, strict: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("text_scrubbed", StringType, nullable = false),
    StructField("n_pii", IntegerType, nullable = false)))
  override def prettyName: String = if (strict) "process_pii_strict" else "process_pii"
  override def nullSafeEval(input: Any): Any =
    PiiFunctions.process(input.asInstanceOf[UTF8String], strict)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PiiFunctions.process($c, $strict)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** The checksum gate shared by the strict scrub (and available to bespoke
  * span post-filters). */
object PiiChecksums {
  /** true → the span should still be redacted. */
  def redact(s: graft.core.PiiSpan): Boolean = s.cat match {
    case PiiCategories.Card =>
      !cardEligible(s.value) || LuhnValid.check(s.value)
    case PiiCategories.Rrn =>
      !RrnValid.eligible(s.value) || RrnValid.check(s.value) || RrnValid.checkArc(s.value)
    case _ => true
  }

  /** Purely numeric up to card separators, 13-19 digits — the shapes the
    * Luhn verdict applies to. */
  def cardEligible(v: String): Boolean = {
    var digits = 0
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c >= '0' && c <= '9') digits += 1
      else if (c != '-' && c != '.' && c != ' ' && c != '\t') return false
      i += 1
    }
    digits >= 13 && digits <= 19
  }
}

/** Catalyst-native PII functions.
  *
  * The detector object (compiled patterns) is a JVM singleton — loaded once
  * per executor classloader, satisfying the compile-once-per-executor rule.
  * `detect_pii`, `scrub_pii` and `scrub_pii_strict` are static kernels
  * ([[StaticKernel]]): WholeStageCodegen calls them directly inside the
  * generated stage — no Scala-UDF serialization/encoder overhead, NULL in →
  * NULL out. `process_pii` stays an expression class
  * ([[PiiProcessExpression]], so perfbench's trace can find the detector in
  * executed plans) behind a [[Pinned]] wrapper, so the optimizer evaluates
  * it once per row.
  */
object PiiFunctions {

  /** detect_pii(text) → struct of 12 nullable array<string> fields
    * (canonical category order). Byte-identical semantics with the
    * reference detector. */
  def detect(u: UTF8String): InternalRow = {
    val r = PiiDetector.detect(u.toString)
    val fields = new Array[Any](PiiCategories.size)
    var i = 0
    while (i < fields.length) {
      val l = r.cats(i)
      if (l != null)
        fields(i) = ArrayData.toArrayData(l.iterator.map(UTF8String.fromString).toArray[Any])
      i += 1
    }
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(fields))
  }

  /** scrub_pii(text) → text with every detected span replaced by
    * `[<category>]` (overlaps merged; deterministic left-to-right). Net-new
    * redaction semantics — see graft.core.PiiDetector.scrub. */
  def scrub(u: UTF8String): UTF8String = UTF8String.fromString(PiiDetector.scrub(u.toString))

  /** scrub_pii_strict(text): like scrub_pii, but a card / RRN span whose
    * value is checksum-ELIGIBLE (a full numeric candidate: 13-19 card digits
    * with separators, or the complete 13-digit RRN shape) yet FAILS its
    * checksum ([[LuhnValid]]; [[RrnValid.check]] or the ARC +2 variant
    * [[RrnValid.checkArc]]) is left unredacted — these are precisely the
    * regex layer's random-number false positives (invoice/tracking/order
    * ids). Values that are NOT checksum-eligible — masked cards, crypto
    * wallets (in the card category by reference contract), partial or
    * OCR-damaged RRNs — are always scrubbed: recall over precision wherever
    * a checksum can't rule. Net-new semantics; the reference-parity scrub is
    * [[scrub]]. */
  def scrubStrict(u: UTF8String): UTF8String = {
    val text = u.toString
    val spans = PiiDetector.detectWithSpans(text)._2
    UTF8String.fromString(PiiDetector.scrubSpans(text, spans.filter(PiiChecksums.redact)))
  }

  /** process_pii's value ([[PiiProcessExpression]]). */
  def process(u: UTF8String, strict: Boolean): InternalRow = {
    val text = u.toString
    val (res, spans) = PiiDetector.detectWithSpans(text)
    if (strict) {
      // checksum-gated fused path: one detector pass, spans filtered by the
      // Luhn/RRN gates. n_pii keeps the SAME counting rule as plain mode —
      // distinct (category, value) pairs — restricted to surviving spans,
      // so toggling strict changes n_pii ONLY on rows where a gate actually
      // dropped a value (a repeated email still counts once in both modes).
      val kept = spans.filter(PiiChecksums.redact)
      val seen = scala.collection.mutable.HashSet.empty[(Int, String)]
      var n = 0
      kept.foreach(s => if (seen.add((s.cat, s.value))) n += 1)
      val scrubbed = if (kept.isEmpty) text else PiiDetector.scrubSpans(text, kept)
      InternalRow(UTF8String.fromString(scrubbed), n)
    } else {
      var n = 0
      var i = 0
      while (i < PiiCategories.size) {
        if (res.cats(i) != null) n += res.cats(i).length
        i += 1
      }
      val scrubbed = if (spans.isEmpty) text else PiiDetector.scrubSpans(text, spans)
      InternalRow(UTF8String.fromString(scrubbed), n)
    }
  }

  private[graft] def detectPiiExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("detect_pii", this, "detect", PiiSchema.resultType, Seq(StringType), args)
  private[graft] def scrubPiiExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("scrub_pii", this, "scrub", StringType, Seq(StringType), args)
  private[graft] def scrubPiiStrictExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("scrub_pii_strict", this, "scrubStrict", StringType, Seq(StringType), args)
  private[graft] def processPiiExpr(strict: Boolean)(args: Seq[Expression]): Expression =
    Pinned(PiiProcessExpression(args.head, strict))

  /** Column API: detect_pii($"text") */
  def detect_pii(c: Column): Column = StaticKernel.column(detectPiiExpr, c)
  def scrub_pii(c: Column): Column = StaticKernel.column(scrubPiiExpr, c)
  def scrub_pii_strict(c: Column): Column = StaticKernel.column(scrubPiiStrictExpr, c)
  def process_pii(c: Column): Column = StaticKernel.column(processPiiExpr(strict = false), c)
  def process_pii_strict(c: Column): Column = StaticKernel.column(processPiiExpr(strict = true), c)
}

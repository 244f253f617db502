package graft.functions

import graft.filter.LangIdModel
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gopher-style within-document repetition: frequency share of the most
  * common word n-gram. O(tokens) per row via open hash counting — a custom
  * kernel because built-in array higher-order functions would be O(n²).
  */
object RepetitionRatio {
  /** The ratio's one definition, shared with the fused pipeline expression
    * ([[QualitySignalsFull]]) so the two paths cannot drift. Quirks are
    * deliberate and pinned (QualitySignalsSpec): JAVA trim (strips control
    * chars too), Locale.ROOT lowercase, String.split's trailing-empty drop
    * — this signal is its own spec, not a TF-built-in mirror. */
  private[functions] def ratio(s: String, n: Int): Double = {
    val toks = s.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val total = toks.length - n + 1
    if (total <= 0) return 0.0d
    val counts = new java.util.HashMap[String, Int](total * 2)
    var maxC = 0
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i < total) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      val k = sb.toString
      val c = counts.merge(k, 1, (a, b) => a + b)
      if (c > maxC) maxC = c
      i += 1
    }
    maxC.toDouble / total
  }

  def ratio(u: UTF8String, n: Int): Double = ratio(u.toString, n)

  private[graft] def repetitionRatioExpr(n: Int)(args: Seq[Expression]): Expression = {
    require(n >= 1)
    StaticKernel.expr(s"repetition_ratio_$n", this, "ratio", DoubleType, Seq(StringType),
      args, Seq(n))
  }
}

/** langid(text) → struct(lang string, confidence double) via the fastText-
  * style hashed n-gram linear model. The model rides in the expression
  * (serialized once per task closure, weights shared per executor), so it
  * stays an expression class; its builder pins it ([[Pinned]]). */
case class LangIdExpression(child: Expression, model: LangIdModel)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("confidence", DoubleType, nullable = false)))
  override def prettyName: String = "langid"
  override def nullSafeEval(input: Any): Any = {
    val (lang, conf) = model.classify(input.asInstanceOf[UTF8String].toString)
    InternalRow(UTF8String.fromString(lang), conf)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing document fingerprints (Schleimer et al., MOSS): rolling
  * Rabin-Karp hashes of char k-grams; per sliding window of w hashes keep the
  * rightmost minimum; output = sorted distinct fingerprint set. Near-identical
  * documents share most fingerprints regardless of alignment. O(n) per row.
  */
object WinnowFingerprint {
  private val Base = 257L
  private val Mod = (1L << 61) - 1

  def fingerprint(u: UTF8String, k: Int, w: Int): ArrayData = {
    val s = u.toString
    if (s.length < k) return ArrayData.toArrayData(Array.empty[Long])
    // rolling hashes of all k-grams
    val n = s.length - k + 1
    val hashes = new Array[Long](n)
    var h = 0L
    var pow = 1L
    var i = 0
    while (i < k) {
      h = mulmod(h, Base) + s.charAt(i)
      if (h >= Mod) h -= Mod
      if (i < k - 1) pow = mulmod(pow, Base)
      i += 1
    }
    hashes(0) = h
    i = 1
    while (i < n) {
      h = h + Mod - mulmod(s.charAt(i - 1).toLong, pow) % Mod
      h %= Mod
      h = mulmod(h, Base) + s.charAt(i + k - 1)
      if (h >= Mod) h -= Mod
      hashes(i) = h
      i += 1
    }
    // winnow: rightmost min per window of w — monotonic deque, O(n) total
    // (popping with >= makes the newer of equal hashes win ⇒ rightmost min,
    // same selection as a left-to-right <= scan)
    val out = new java.util.TreeSet[java.lang.Long]()
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0
    var j = 0
    while (j < n) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(j)) tail -= 1
      deque(tail) = j
      tail += 1
      val start = j - w + 1
      if (start >= 0) {
        while (deque(head) < start) head += 1
        out.add(hashes(deque(head)))
      }
      j += 1
    }
    if (out.isEmpty && n > 0) out.add(hashes.min)
    val arr = new Array[Long](out.size)
    val it = out.iterator(); var x = 0
    while (it.hasNext) { arr(x) = it.next(); x += 1 }
    ArrayData.toArrayData(arr)
  }

  /** (a·b) mod (2^61-1) via 128-bit product + Mersenne folding. */
  @inline private def mulmod(a: Long, b: Long): Long = {
    val hi = java.lang.Math.multiplyHigh(a, b)
    val lo = a * b
    var r = ((hi << 3) | (lo >>> 61)) + (lo & Mod)
    while (r >= Mod) r -= Mod
    r
  }

  private[graft] def winnowFingerprintExpr(k: Int, w: Int)(args: Seq[Expression]): Expression = {
    require(k >= 2 && w >= 1)
    StaticKernel.expr("winnow_fingerprint", this, "fingerprint",
      ArrayType(LongType, containsNull = false), Seq(StringType), args, Seq(k, w))
  }
}

/** Deflate compression ratio (compressed/raw bytes of UTF-8 text): the
  * classic cheap redundancy detector — boilerplate, template spam, and
  * repeated blocks compress far below natural prose (~0.3-0.5 vs ~0.6+).
  * Level 1 (speed); O(n) per row. The Deflater (native zlib state) is
  * thread-local and reset per row — per-row allocation would dominate the
  * cost on short documents at scale. */
object DeflateRatio {
  private val local = ThreadLocal.withInitial[java.util.zip.Deflater](
    () => new java.util.zip.Deflater(1, true))
  private val buf = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))

  def ratio(u: UTF8String): Double = {
    val raw = u.getBytes
    if (raw.isEmpty) return 1.0d
    val d = local.get()
    d.reset()
    d.setInput(raw); d.finish()
    val b = buf.get()
    var out = 0L
    while (!d.finished()) out += d.deflate(b)
    out.toDouble / raw.length
  }

  private[graft] def deflateRatioExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("deflate_ratio", this, "ratio", DoubleType, Seq(StringType), args)
}

/** Unicode NFC normalization: crawl text mixes precomposed and combining-
  * mark encodings of the same glyphs (é vs e+U+0301), which defeats exact
  * dedup, fingerprinting, and tokenizer vocab lookups. Normalizing to NFC
  * before any hashing step makes byte-equality mean glyph-equality.
  * java.text.Normalizer is allocation-free on already-NFC input (the
  * common case) via the isNormalized fast path. */
object NfcNormalize {
  def normalize(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  private[graft] def nfcNormalizeExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("nfc_normalize", this, "normalize", StringType, Seq(StringType), args)
}

/** Single-pass fused quality signals: one scan of the document replaces the
  * four separate regex tokenizations the built-in formulation pays
  * (`split` for the word count, `regexp_replace` for the char count, a
  * second lowered `split` + per-token `rlike` for the alpha ratio, two
  * `regexp_replace` for the symbol counts) — measured at ~40% of the whole
  * pipeline's CPU on the 1M-page bench before fusing.
  *
  * Value parity with the built-ins is EXACT and spec-pinned
  * (QualitySignalsSpec): token boundaries are Java-regex `\s+` runs
  * ([ \t\n\f\r] — NOT Unicode whitespace) over the space-trimmed text
  * (Spark `trim` strips U+0020 only), with the leading/trailing empty tokens
  * Spark's `split(limit=-1)` keeps; the alpha check runs on the
  * UTF8String-lowercased text exactly like `lower()`.
  */
object QualitySignals {
  def signals(u: UTF8String): InternalRow = {
    val s = u.toString
    InternalRow(wordCount(s), nonWsCodePoints(s), symbolCount(s),
      alphaWords(u.toLowerCase.toString))
  }

  private[graft] def qualitySignalsExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("quality_signals", this, "signals", StructType(Seq(
      StructField("n_words", IntegerType, nullable = false),
      StructField("n_chars", IntegerType, nullable = false),
      StructField("n_symbols", IntegerType, nullable = false),
      StructField("n_alpha_words", IntegerType, nullable = false))), Seq(StringType), args)

  // The signal definitions below are shared verbatim with the fused pipeline
  // expression ([[QualitySignalsFull]]) so the two paths cannot drift.

  @inline private[functions] def isJWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Non-whitespace CODE POINTS, not UTF-16 units — Spark length() counts
    * code points, so a surrogate pair (emoji) is one char: skip the low
    * half. */
  private[functions] def nonWsCodePoints(s: String): Int = {
    var nChars = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!isJWs(c) && !Character.isLowSurrogate(c)) nChars += 1
      i += 1
    }
    nChars
  }

  private[functions] def symbolCount(s: String): Int = {
    var nSym = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '#' || c == '…') nSym += 1
      i += 1
    }
    nSym
  }

  /** split(trim(s), "\s+", -1).length: non-ws runs inside the space-trimmed
    * region, plus the empty tokens a leading/trailing \s char produces. */
  private[functions] def wordCount(s: String): Int = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == e) return 1 // split("") == [""]
    var runs = 0
    var i = b
    while (i < e) {
      if (!isJWs(s.charAt(i))) {
        runs += 1
        while (i < e && !isJWs(s.charAt(i))) i += 1
      } else i += 1
    }
    runs + (if (isJWs(s.charAt(b))) 1 else 0) + (if (isJWs(s.charAt(e - 1))) 1 else 0)
  }

  /** Tokens (of the lowered text) containing at least one ASCII letter. */
  private[functions] def alphaWords(lowered: String): Int = {
    var n = 0
    var i = 0
    val len = lowered.length
    while (i < len) {
      if (!isJWs(lowered.charAt(i))) {
        var alpha = false
        while (i < len && !isJWs(lowered.charAt(i))) {
          val c = lowered.charAt(i)
          if (c >= 'a' && c <= 'z') alpha = true
          i += 1
        }
        if (alpha) n += 1
      } else i += 1
    }
    n
  }

}

/** The quality stage's per-row signal surface fused into ONE expression
  * pass: the four [[QualitySignals]] counts, the Gopher 2-gram repetition
  * ratio, and the line-shape counts behind
  * [[graft.functions.TextFunctions.lineShapeSignals]]'s fractions — one
  * UTF8String→String conversion and one expression eval per row where the
  * unfused stage paid three expression/column passes (plus a declarative
  * per-line regex pass).
  *
  * Every field is computed by the SAME code as its standalone form:
  * [[QualitySignals]]' statics, [[RepetitionRatio.ratio]] (with its
  * deliberate Java-trim/ROOT-lower quirks), and a JVM transliteration of
  * the declarative line-shape chain — `split("\r?\n")` (limit -1),
  * Spark trim (space-only), `^[•*-]` = first trimmed char in the set,
  * `(\.\.\.|…)\z` = trimmed line ends with "..." or "…". Counts are
  * returned (not fractions) so the caller's divisions are the identical
  * int/int IEEE operations the declarative form performed. Value parity
  * with all three standalone formulations is pinned in QualitySignalsSpec.
  * The quality stage's filters read many of its fields, so the builder pins
  * it ([[Pinned]]). */
object QualitySignalsFull {
  /** Same pattern as the declarative `split(text, "\r?\n")`. */
  private val LineSplit = java.util.regex.Pattern.compile("\r?\n")

  def signals(u: UTF8String): InternalRow = {
    val s = u.toString
    import QualitySignals._
    val lines = LineSplit.split(s, -1)
    var nBullet = 0
    var nEllipsis = 0
    var li = 0
    while (li < lines.length) {
      val l = lines(li)
      // Spark trim: strip ' ' only
      var b = 0
      var e = l.length
      while (b < e && l.charAt(b) == ' ') b += 1
      while (e > b && l.charAt(e - 1) == ' ') e -= 1
      if (b < e) {
        val c0 = l.charAt(b)
        if (c0 == '•' || c0 == '*' || c0 == '-') nBullet += 1
        if (l.charAt(e - 1) == '…' ||
          (e - b >= 3 && l.charAt(e - 1) == '.' && l.charAt(e - 2) == '.' &&
            l.charAt(e - 3) == '.')) nEllipsis += 1
      }
      li += 1
    }
    InternalRow(wordCount(s), nonWsCodePoints(s), symbolCount(s),
      alphaWords(u.toLowerCase.toString), RepetitionRatio.ratio(s, 2),
      lines.length, nBullet, nEllipsis)
  }

  private[graft] def qualitySignalsFullExpr(args: Seq[Expression]): Expression =
    Pinned(StaticKernel.expr("quality_signals_full", this, "signals", StructType(Seq(
      "n_words" -> IntegerType, "n_chars" -> IntegerType, "n_symbols" -> IntegerType,
      "n_alpha_words" -> IntegerType, "rep2" -> DoubleType, "n_lines" -> IntegerType,
      "n_bullet" -> IntegerType, "n_ellipsis" -> IntegerType)
      .map { case (n, t) => StructField(n, t, nullable = false) }), Seq(StringType), args))
}

/** Gopher within-document duplicate-shape counts (Rae et al. 2021 Table A1:
  * `dup_line_frac` / `dup_para_frac` and their character-fraction variants —
  * the repetition gates word-n-gram signals cannot see: a page that repeats
  * whole nav blocks or paragraphs verbatim). One pass builds both the line
  * and paragraph count maps; returns EXACT integer counts so callers (and
  * the DuckDB oracle) derive the fractions — integer outputs keep the
  * oracle comparison float-free.
  *
  * Semantics (mirrored verbatim in the q67 oracle SQL):
  *  - lines = `\r?\n`-split, trimmed, empties dropped;
  *  - paragraphs = blank-line-split (`(\r?\n){2,}`), trimmed, empties
  *    dropped;
  *  - an element occurring c times contributes c−1 duplicate occurrences
  *    and (c−1)·len duplicate characters (len in code points);
  *  - fractions are duplicate/total occurrences (or chars) — 0 when the
  *    document has no elements.
  * Pinned ([[Pinned]]): four gates read it.
  */
object DupShapeSignals {
  /** Space-only trim — the `trim` semantics Spark and DuckDB share (Java's
    * String.trim also strips control chars and would diverge from the
    * oracle on tab-edged lines). */
  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  /** occurrences-beyond-first and their code-point mass over trimmed
    * non-empty elements. */
  private def dupCounts(elems: Array[String]): (Int, Int, Long, Long) = {
    val counts = new java.util.HashMap[String, Int](elems.length * 2)
    var n = 0
    var dups = 0
    var chars = 0L
    var dupChars = 0L
    var i = 0
    while (i < elems.length) {
      val t = trimSpaces(elems(i))
      if (t.nonEmpty) {
        n += 1
        val len = t.codePointCount(0, t.length).toLong
        chars += len
        val c = counts.merge(t, 1, (a, b) => a + b)
        if (c > 1) { dups += 1; dupChars += len }
      }
      i += 1
    }
    (n, dups, chars, dupChars)
  }

  def counts(u: UTF8String): InternalRow = {
    val s = u.toString
    val (nl, dl, lc, dlc) = dupCounts(s.split("\r?\n"))
    val (np, dp, pc, dpc) = dupCounts(s.split("(\r?\n){2,}"))
    InternalRow(nl, dl, lc, dlc, np, dp, pc, dpc)
  }

  private[graft] def dupShapeSignalsExpr(args: Seq[Expression]): Expression =
    Pinned(StaticKernel.expr("dup_shape_signals", this, "counts", StructType(Seq(
      "n_lines" -> IntegerType, "dup_lines" -> IntegerType, "line_chars" -> LongType,
      "dup_line_chars" -> LongType, "n_paras" -> IntegerType, "dup_paras" -> IntegerType,
      "para_chars" -> LongType, "dup_para_chars" -> LongType)
      .map { case (n, t) => StructField(n, t, nullable = false) }), Seq(StringType), args))
}

object QualityFunctions {
  def quality_signals(c: Column): Column = StaticKernel.column(QualitySignals.qualitySignalsExpr, c)
  def quality_signals_full(c: Column): Column =
    StaticKernel.column(QualitySignalsFull.qualitySignalsFullExpr, c)
  def dup_shape_signals(c: Column): Column =
    StaticKernel.column(DupShapeSignals.dupShapeSignalsExpr, c)
  def repetition_ratio(c: Column, n: Int): Column =
    StaticKernel.column(RepetitionRatio.repetitionRatioExpr(n), c)
  private[graft] def langidExpr(model: LangIdModel)(args: Seq[Expression]): Expression =
    Pinned(LangIdExpression(args.head, model))
  def langid(c: Column, model: LangIdModel = LangIdModel.default): Column =
    StaticKernel.column(langidExpr(model), c)
  def winnow_fingerprint(c: Column, k: Int = 8, w: Int = 16): Column =
    StaticKernel.column(WinnowFingerprint.winnowFingerprintExpr(k, w), c)
  def deflate_ratio(c: Column): Column = StaticKernel.column(DeflateRatio.deflateRatioExpr, c)
  def nfc_normalize(c: Column): Column = StaticKernel.column(NfcNormalize.nfcNormalizeExpr, c)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Boilerplate-aware HTML → text extraction after jusText (Pomikálek 2011,
  * "Removing boilerplate and duplicate content from web corpora"; algorithm
  * reimplemented from the published description): segment the page into
  * blocks at block-level tags, score each block by length, link density and
  * (optionally) stopword density, classify good/near-good/short/bad, then
  * resolve the ambiguous classes from their context — boilerplate (nav bars,
  * cookie banners, footers, "read more" buttons) clusters around bad
  * neighbours while body prose clusters around good ones.
  *
  * The default configuration is jusText's language-independent mode
  * (stopword thresholds 0): classification uses only length + link density,
  * which is what a multilingual crawl pipeline runs before language ID has
  * happened. Per-language stopword lists sharpen it via `stopwords` +
  * the paper's 0.30/0.32 density thresholds.
  *
  * Differences from full jusText, by design (documented, spec-pinned):
  * no heading-promotion pass (`max_heading_distance`), and the copyright
  * test matches '©' anywhere in the block (jusText: same).
  *
  * Output: final-good block texts joined with '\n'; entity-decoded,
  * whitespace collapsed to single spaces, space-trimmed per block. One
  * O(|html|) scan per row, zero dependencies — a narrow codegen-stage
  * kernel that runs at scan parallelism (no shuffle).
  */
object JusTextExtract {
  final val Bad = 0; final val Short = 1; final val NearGood = 2; final val Good = 3

  /** jusText's length and link-density thresholds. */
  final val LengthLow = 70; final val LengthHigh = 200; final val MaxLinkDensity = 0.2

  def extract(u: UTF8String, stopwordsLow: Double, stopwordsHigh: Double,
              stopwords: Set[String]): UTF8String = {
    val blocks = segment(u.toString)
    val classes = classify(blocks, stopwordsLow, stopwordsHigh, stopwords)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < blocks.length) {
      if (classes(i) == Good) {
        if (sb.length > 0) sb.append('\n')
        sb.append(blocks(i).text)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  final case class Block(text: String, linkChars: Int) {
    def chars: Int = text.length
    def linkDensity: Double = if (text.isEmpty) 0.0 else linkChars.toDouble / text.length
  }

  /** Tags that break the block flow (jusText's paragraph boundaries).
    * `br` is handled separately: a single `<br>` is an inline line break
    * (whitespace), only `<br><br>` breaks the block — jusText's lxml
    * preprocessing does the same, and flushing on every `<br>` would
    * fragment hard-wrapped prose into Short blocks. */
  private val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li", "dl",
    "dt", "dd", "table", "thead", "tbody", "tfoot", "tr", "td", "th",
    "blockquote", "pre", "form", "fieldset", "hr", "section",
    "article", "header", "footer", "nav", "aside", "main", "figure",
    "figcaption", "caption", "address", "center", "body", "html", "title")

  /** Elements whose entire content is dropped. */
  private val SkipTags: Set[String] = Set(
    "script", "style", "head", "noscript", "svg", "template", "iframe",
    "object", "textarea", "select")

  /** One left-to-right scan: comments/doctype skipped, skip-elements dropped
    * to their close tag (self-closing forms like `<iframe/>` have no content
    * to drop), entities decoded, whitespace collapsed; a new block at every
    * block-tag boundary; chars appended inside <a> counted. */
  def segment(html: String): ArrayBuffer[Block] = {
    val out = new ArrayBuffer[Block]
    val sb = new java.lang.StringBuilder
    var linkChars = 0
    var linkDepth = 0
    var lastWasBr = false

    def flush(): Unit = {
      // trim the single trailing space the collapser may leave; leading
      // spaces are never appended (collapse checks emptiness)
      var e = sb.length
      while (e > 0 && sb.charAt(e - 1) == ' ') e -= 1
      if (e > 0) {
        val t = sb.substring(0, e)
        out += Block(t, math.min(linkChars, t.length))
      }
      sb.setLength(0)
      linkChars = 0
      lastWasBr = false
    }

    def appendChar(c: Char): Unit = {
      if (Character.isWhitespace(c)) {
        if (sb.length > 0 && sb.charAt(sb.length - 1) != ' ') {
          sb.append(' ')
          if (linkDepth > 0) linkChars += 1
        }
      } else {
        sb.append(c)
        if (linkDepth > 0) linkChars += 1
        lastWasBr = false
      }
    }

    val n = html.length
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          val e = html.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else {
          // parse tag name (with optional leading '/')
          var j = i + 1
          val closing = j < n && html.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          while (j < n && (html.charAt(j).isLetterOrDigit)) j += 1
          val name = html.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          if (name.isEmpty) { appendChar('<'); i += 1 }
          else {
            // advance to tag end, honoring quoted attribute values
            var q = '\u0000'
            while (j < n && (q != '\u0000' || html.charAt(j) != '>')) {
              val cj = html.charAt(j)
              if (q != '\u0000') { if (cj == q) q = '\u0000' }
              else if (cj == '"' || cj == '\'') q = cj
              j += 1
            }
            val tagEnd = if (j < n) j + 1 else n
            // `<iframe/>`-style self-closing tags have no content: skipping
            // to a close tag that doesn't exist would silently drop the
            // whole rest of the document
            val selfClosing = j < n && j > nameStart && html.charAt(j - 1) == '/'
            if (!closing && !selfClosing && SkipTags.contains(name)) {
              // drop content through the matching close tag —
              // case-insensitive scan without allocating a lowercase copy
              val e = indexOfIgnoreCase(html, s"</$name", tagEnd)
              if (e < 0) i = n
              else {
                val ce = html.indexOf('>', e)
                i = if (ce < 0) n else ce + 1
              }
            } else {
              if (name == "br") {
                if (lastWasBr) flush() // <br><br> = paragraph break
                else { appendChar(' '); lastWasBr = true } // single br: inline
              } else {
                if (BlockTags.contains(name)) flush()
                else lastWasBr = false
                if (name == "a") linkDepth = math.max(0, linkDepth + (if (closing) -1 else 1))
              }
              i = tagEnd
            }
          }
        }
      } else if (c == '&') {
        val (decoded, next) = decodeEntity(html, i)
        decoded.foreach(appendChar)
        i = next
      } else {
        appendChar(c)
        i += 1
      }
    }
    flush()
    out
  }

  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    val limit = hay.length - needle.length
    var i = math.max(from, 0)
    while (i <= limit) {
      if (hay.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** Decode the entity starting at `i` ('&'); returns (decoded chars, next
    * index). Unknown entities pass through verbatim. */
  private def decodeEntity(html: String, i: Int): (String, Int) = {
    val e = html.indexOf(';', i + 1)
    if (e < 0 || e > i + 10) return ("&", i + 1)
    val body = html.substring(i + 1, e)
    val decoded: String =
      if (body.startsWith("#x") || body.startsWith("#X"))
        try numericRef(Integer.parseInt(body.substring(2), 16))
        catch { case _: Exception => null }
      else if (body.startsWith("#"))
        try numericRef(Integer.parseInt(body.substring(1)))
        catch { case _: Exception => null }
      else body match {
        case "amp" => "&"; case "lt" => "<"; case "gt" => ">"
        case "quot" => "\""; case "apos" => "'"; case "nbsp" => " "
        case "copy" => "©"; case "mdash" => "—"; case "ndash" => "–"
        case "hellip" => "…"
        case _ => null
      }
    if (decoded == null) ("&", i + 1) else (decoded, e + 1)
  }

  /** Numeric character references decoding to control characters — C0
    * below 0x20 (other than tab/newline), DEL, and the C1 range 0x7F–0x9F
    * (which per the HTML spec are Windows-1252 mojibake anyway, never
    * intentional C1) — would inject raw control bytes into the "clean"
    * text that dedup/scrubbing consume downstream; treat them like unknown
    * entities (pass through verbatim). */
  private def numericRef(cp: Int): String =
    if (cp < 0x20 && cp != '\t' && cp != '\n') null
    else if (cp >= 0x7f && cp <= 0x9f) null
    else new String(Character.toChars(cp))

  /** jusText classification: context-free pass then the context-sensitive
    * revision of short/near-good blocks (boundaries count as bad). */
  def classify(blocks: ArrayBuffer[Block], swLow: Double, swHigh: Double,
               stopwords: Set[String]): Array[Int] = {
    val n = blocks.length
    val cf = new Array[Int](n)
    var i = 0
    while (i < n) {
      val b = blocks(i)
      cf(i) =
        if (b.linkDensity > MaxLinkDensity) Bad
        else if (b.text.indexOf('©') >= 0) Bad
        else if (b.chars < LengthLow) { if (b.linkChars > 0) Bad else Short }
        else {
          val density = if (stopwords.isEmpty) 1.0 else stopwordDensity(b.text, stopwords)
          if (density >= swHigh) { if (b.chars > LengthHigh) Good else NearGood }
          else if (density >= swLow) NearGood
          else Bad
        }
      i += 1
    }
    // context-sensitive revision (jusText revise_paragraph_classification,
    // minus the heading pass): neighbours skip short, and optionally
    // near-good; past-the-edge is bad
    def prevN(k: Int, ignoreNearGood: Boolean): Int = {
      var j = k - 1
      while (j >= 0 && (cf(j) == Short || (ignoreNearGood && cf(j) == NearGood))) j -= 1
      if (j < 0) Bad else cf(j)
    }
    def nextN(k: Int, ignoreNearGood: Boolean): Int = {
      var j = k + 1
      while (j < n && (cf(j) == Short || (ignoreNearGood && cf(j) == NearGood))) j += 1
      if (j >= n) Bad else cf(j)
    }
    val out = cf.clone()
    i = 0
    while (i < n) {
      if (cf(i) == Short) {
        val p = prevN(i, ignoreNearGood = true)
        val x = nextN(i, ignoreNearGood = true)
        out(i) =
          if (p == Good && x == Good) Good
          else if (p == Bad && x == Bad) Bad
          // mixed good/bad: good iff the bad side is buffered by a near-good
          else if ((p == Bad && prevN(i, ignoreNearGood = false) == NearGood) ||
                   (x == Bad && nextN(i, ignoreNearGood = false) == NearGood)) Good
          else Bad
      }
      i += 1
    }
    // near-good: good unless surrounded by bad on both sides
    i = 0
    while (i < n) {
      if (cf(i) == NearGood) {
        val p = prevN(i, ignoreNearGood = true)
        val x = nextN(i, ignoreNearGood = true)
        out(i) = if (p == Bad && x == Bad) Bad else Good
      }
      i += 1
    }
    out
  }

  private def stopwordDensity(text: String, stopwords: Set[String]): Double = {
    val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    if (words.isEmpty) return 0.0
    var hits = 0
    var i = 0
    while (i < words.length) {
      val w = words(i).dropWhile(!_.isLetter).reverse.dropWhile(!_.isLetter).reverse
      if (w.nonEmpty && stopwords.contains(w)) hits += 1
      i += 1
    }
    hits.toDouble / words.length
  }
}

object HtmlFunctions {
  private def justextExpr(swLow: Double, swHigh: Double, stopwords: Set[String])(
      args: Seq[Expression]): Expression =
    StaticKernel.expr("justext_extract", JusTextExtract, "extract", StringType, Seq(StringType),
      args, Seq(swLow, swHigh, stopwords))

  /** Language-independent jusText extraction (length + link density only —
    * the pre-langid crawl default). */
  def justext_extract(c: Column): Column =
    StaticKernel.column(justextExpr(0.0, 0.0, Set.empty), c)

  /** Stopword-sharpened variant (per-language list + the paper's density
    * thresholds). */
  def justext_extract(c: Column, stopwords: Set[String],
                      swLow: Double = 0.30, swHigh: Double = 0.32): Column =
    StaticKernel.column(justextExpr(swLow, swHigh, stopwords), c)
}

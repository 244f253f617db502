package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `extract_links(html)` → the href values of `<a>` tags, in document order,
  * duplicates kept (order and multiplicity carry anchor semantics). The
  * outlink side of the host link graph ([[graft.operators.LinkGraph]]) and
  * the crawl-frontier feed. Quote-aware attribute scanning (href values may
  * contain '>'), case-insensitive tag/attribute names, quoted or unquoted
  * values; `<a>` tags inside dropped elements (script/style/comments) are
  * NOT skipped — link extraction runs on the raw markup, not the extracted
  * text (a crawler follows links wherever they appear). One O(|html|) scan.
  */
object ExtractLinks {
  def links(html: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    scanAnchors(html, (href, _) => out += href)
    out.toArray
  }

  /** (href, anchor text) pairs of `<a href>` tags, in document order. The
    * anchor is the markup between the open tag and the next `</a` (inner
    * tags stripped quote-aware, whitespace runs collapsed to one space,
    * trimmed; entities left verbatim — aggregation keys don't need them
    * decoded). An unterminated anchor runs to end of input; `<a>` tags
    * without an href yield nothing, exactly like [[links]]. Known
    * limitation (pinned in LinkAnchorsFuzzSpec): the inner-tag skip treats
    * `<!-- ... -->` like any other tag — it skips only to the first '>' —
    * so a commented-out close tag inside an anchor body (`<a href=x>t
    * <!-- </a> --> u</a>`) leaks the comment tail into the anchor text or
    * terminates it early, depending on where the comment's first '>'
    * falls. hrefs are unaffected (scanAnchors is a separate pass). */
  def linkAnchors(html: String): Array[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    scanAnchors(html, (href, bodyStart) =>
      out += ((href, anchorText(html, bodyStart))))
    out.toArray
  }

  /** The anchor body: from `start` (just past the open tag's '>') to the
    * next case-insensitive `</a` whose following char is not a letter/digit
    * (`</a>` / `</a >`, not `</abbr>`), inner tags dropped with the same
    * quote-aware attribute skip as the open-tag scanner. */
  private def anchorText(html: String, start: Int): String = {
    val n = html.length
    val sb = new java.lang.StringBuilder
    var i = start
    var done = false
    while (i < n && !done) {
      val c = html.charAt(i)
      // a '<' only opens markup when followed by a letter, '/', '!' or '?'
      // (the HTML5 tag-open rule) — a bare '<' in text ("5 < 6") is content,
      // not a tag, and must not swallow the real </a> terminator
      if (c == '<' && i + 1 < n && (html.charAt(i + 1).isLetter ||
        html.charAt(i + 1) == '/' || html.charAt(i + 1) == '!' ||
        html.charAt(i + 1) == '?')) {
        if (i + 2 < n && html.charAt(i + 1) == '/' &&
          (html.charAt(i + 2) == 'a' || html.charAt(i + 2) == 'A') &&
          (i + 3 >= n || !html.charAt(i + 3).isLetterOrDigit)) {
          done = true
        } else {
          // skip the tag, honoring quoted attribute values (may hold '>')
          var j = i + 1
          while (j < n && html.charAt(j) != '>') {
            val q = html.charAt(j)
            if (q == '"' || q == '\'') {
              val e = html.indexOf(q, j + 1)
              if (e > 0) j = e
            }
            j += 1
          }
          i = j
        }
      } else sb.append(c)
      i += 1
    }
    sb.toString.split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  /** Shared `<a>` scanner: calls `onLink(href, bodyStart)` for every anchor
    * tag carrying an href, where `bodyStart` is the index just past the open
    * tag's '>' (== n for an unclosed tag at end of input). */
  private def scanAnchors(html: String, onLink: (String, Int) => Unit): Unit = {
    val n = html.length
    var i = 0
    while (i < n) {
      i = html.indexOf('<', i)
      if (i < 0) return
      // `<a` followed by whitespace or tag end — not <abbr>/<article>
      if (i + 1 < n && (html.charAt(i + 1) == 'a' || html.charAt(i + 1) == 'A') &&
        (i + 2 >= n || !html.charAt(i + 2).isLetterOrDigit)) {
        var j = i + 2
        // scan attributes to tag end, honoring quotes; pick up href
        var href: String = null
        while (j < n && html.charAt(j) != '>') {
          // the preceding char must be an attribute separator (whitespace or
          // a closing quote) — rejects hreflang's prefix and data-href
          if (href == null && html.regionMatches(true, j, "href", 0, 4) &&
            (Character.isWhitespace(html.charAt(j - 1)) ||
              html.charAt(j - 1) == '"' || html.charAt(j - 1) == '\'') &&
            j + 4 < n && !html.charAt(j + 4).isLetterOrDigit &&
            html.charAt(j + 4) != '-') {
            var k = j + 4
            while (k < n && Character.isWhitespace(html.charAt(k))) k += 1
            if (k < n && html.charAt(k) == '=') {
              k += 1
              while (k < n && Character.isWhitespace(html.charAt(k))) k += 1
              if (k < n && (html.charAt(k) == '"' || html.charAt(k) == '\'')) {
                val q = html.charAt(k)
                val e = html.indexOf(q, k + 1)
                if (e > 0) { href = html.substring(k + 1, e); j = e }
                else j = k
              } else { // unquoted: to whitespace or '>'
                var e = k
                while (e < n && !Character.isWhitespace(html.charAt(e)) &&
                  html.charAt(e) != '>') e += 1
                href = html.substring(k, e)
                j = e - 1
              }
            }
          } else {
            val c = html.charAt(j)
            if (c == '"' || c == '\'') { // skip other quoted attr values
              val e = html.indexOf(c, j + 1)
              if (e > 0) j = e
            }
          }
          j += 1
        }
        if (href != null) onLink(href, j + 1)
        i = j
      } else i += 1
    }
  }

  def linksArray(u: UTF8String): ArrayData =
    ArrayData.toArrayData(links(u.toString).map(UTF8String.fromString))

  /** `extract_link_anchors(html)` → `array<struct<href,anchor>>`: the href and
    * visible anchor text of every `<a href>` tag, in document order (see
    * [[ExtractLinks.linkAnchors]] for the anchor semantics). Incoming anchor
    * text is a classic page-quality / relevance signal — aggregated per target
    * host it describes a page in its LINKERS' words, which spam can't cheaply
    * forge at scale. One O(|html|) scan, same scanner as `extract_links`. */
  def linkAnchorsArray(u: UTF8String): ArrayData =
    ArrayData.toArrayData(linkAnchors(u.toString).map { case (href, anchor) =>
      InternalRow(UTF8String.fromString(href), UTF8String.fromString(anchor))
    })

  private[graft] def extractLinksExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("extract_links", this, "linksArray",
      ArrayType(StringType, containsNull = false), Seq(StringType), args)

  private[graft] def extractLinkAnchorsExpr(args: Seq[Expression]): Expression =
    StaticKernel.expr("extract_link_anchors", this, "linkAnchorsArray",
      ArrayType(StructType(Seq(
        StructField("href", StringType, nullable = false),
        StructField("anchor", StringType, nullable = false))), containsNull = false),
      Seq(StringType), args)

  def extract_links(c: Column): Column = StaticKernel.column(extractLinksExpr, c)

  def extract_link_anchors(c: Column): Column = StaticKernel.column(extractLinkAnchorsExpr, c)
}

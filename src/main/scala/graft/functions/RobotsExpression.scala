package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `robots_allowed(robots_txt, url)` — REP / robots.txt evaluation per
  * RFC 9309 (reimplemented from the spec): crawl-corpus construction
  * filters fetched pages by the host's robots rules before anything else
  * touches them.
  *
  * Semantics implemented:
  *  - group selection: the group(s) whose `User-agent` exactly matches
  *    `agent` (case-insensitive); if none, the `*` group(s); if none,
  *    everything is allowed. Consecutive user-agent lines share one group;
  *    multiple groups for the same agent merge (RFC 9309 §2.2.1).
  *  - rule matching: `Allow`/`Disallow` values are path patterns with `*`
  *    wildcards and an optional `$` end anchor, matched against the URL's
  *    path + query; the LONGEST-pattern match wins (octet length, per spec),
  *    with Allow winning ties; no matching rule ⇒ allowed; an empty
  *    `Disallow:` value matches nothing (classic "allow all").
  *  - lines are `[field ':' value]` with `#` comments stripped; field names
  *    case-insensitive; unknown fields ignored.
  *
  * At crawl scale the same robots.txt evaluates against many pages of one
  * host, so parsed rule-sets are memoized per executor thread (small LRU
  * keyed by the robots text) — parse once per host, match per page. Narrow
  * per-row work; broadcast/join the robots table to pages upstream.
  */
object RobotsAllowed {

  /** (pattern, isAllow), pre-split on '*' for the wildcard matcher. */
  final case class Rule(segments: Array[String], endAnchor: Boolean,
                        specificity: Int, allow: Boolean)

  private val cache = ThreadLocal.withInitial[java.util.LinkedHashMap[(String, String), Array[Rule]]](
    () => new java.util.LinkedHashMap[(String, String), Array[Rule]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(String, String), Array[Rule]]): Boolean =
        size() > 32
    })

  def rulesFor(robotsTxt: String, agent: String): Array[Rule] = {
    val key = (robotsTxt, agent)
    val c = cache.get()
    val hit = c.get(key)
    if (hit != null) return hit
    val parsed = parse(robotsTxt, agent)
    c.put(key, parsed)
    parsed
  }

  /** path + '?' + query of an absolute or relative URL ("/" if empty). */
  def pathOf(url: String): String = {
    var s = url
    val scheme = s.indexOf("://")
    if (scheme >= 0) {
      val slash = s.indexOf('/', scheme + 3)
      s = if (slash < 0) "/" else s.substring(slash)
    }
    val frag = s.indexOf('#')
    if (frag >= 0) s = s.substring(0, frag)
    if (s.isEmpty || s.charAt(0) != '/') "/" + s else s
  }

  def parse(robotsTxt: String, agent: String): Array[Rule] = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val exact = scala.collection.mutable.ArrayBuffer.empty[Rule]
    val wild = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var inAgents = false // inside a run of consecutive user-agent lines
    var groupExact = false // current group applies to `agent` exactly
    var groupWild = false // current group is `*`
    for (raw <- robotsTxt.split("\r?\n")) {
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val field = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          field match {
            case "user-agent" =>
              if (!inAgents) { groupExact = false; groupWild = false }
              inAgents = true
              val v = value.toLowerCase(java.util.Locale.ROOT)
              if (v == agentLc) groupExact = true
              else if (v == "*") groupWild = true
            case "allow" | "disallow" =>
              inAgents = false
              if ((groupExact || groupWild) && !(field == "disallow" && value.isEmpty)) {
                val target = if (groupExact) exact else wild
                target += compile(value, field == "allow")
              }
            case _ => inAgents = false // unknown field ends an agent run
          }
        }
      }
    }
    (if (exact.nonEmpty) exact else wild).toArray
  }

  private def compile(pattern: String, allow: Boolean): Rule = {
    val endAnchor = pattern.endsWith("$")
    val p = if (endAnchor) pattern.substring(0, pattern.length - 1) else pattern
    // specificity = octet length of the pattern (RFC: "most specific" =
    // longest); measured on the raw pattern like major implementations
    Rule(p.split("\\*", -1), endAnchor, pattern.getBytes(java.nio.charset.StandardCharsets.UTF_8).length, allow)
  }

  /** Greedy wildcard match of the compiled pattern against the path: the
    * first segment anchors at position 0, middle segments match greedily
    * left-to-right, the last must be a suffix (with `$`) or merely present
    * (without — the pattern is a prefix pattern, anything may follow). */
  private def matches(r: Rule, path: String): Boolean = {
    val segs = r.segments
    if (segs.length == 1)
      return if (r.endAnchor) path == segs(0) else path.startsWith(segs(0))
    if (!path.startsWith(segs(0))) return false
    var pos = segs(0).length
    var i = 1
    while (i < segs.length - 1) {
      val at = path.indexOf(segs(i), pos)
      if (at < 0) return false
      pos = at + segs(i).length
      i += 1
    }
    val last = segs(segs.length - 1)
    if (r.endAnchor) path.length - last.length >= pos && path.endsWith(last)
    else path.indexOf(last, pos) >= 0
  }

  /** Longest-match decision: most specific (longest) matching rule wins,
    * Allow wins ties, no match ⇒ allowed. */
  def allowed(rules: Array[Rule], path: String): Boolean = {
    var bestSpec = -1
    var bestAllow = true
    var i = 0
    while (i < rules.length) {
      val r = rules(i)
      if ((r.specificity > bestSpec ||
            (r.specificity == bestSpec && r.allow && !bestAllow)) &&
          matches(r, path)) {
        bestSpec = r.specificity
        bestAllow = r.allow
      }
      i += 1
    }
    bestAllow
  }

  def allowed(robots: UTF8String, url: UTF8String, agent: UTF8String): Boolean =
    allowed(rulesFor(robots.toString, agent.toString), pathOf(url.toString))

  private[graft] def robotsAllowedExpr(agent: String)(args: Seq[Expression]): Expression =
    StaticKernel.expr("robots_allowed", this, "allowed", BooleanType,
      Seq(StringType, StringType), args, Seq(agent))

  def robots_allowed(robots: Column, url: Column, agent: String = "*"): Column =
    StaticKernel.column(robotsAllowedExpr(agent), robots, url)
}

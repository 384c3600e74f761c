package graft.functions

import graft.model.RobotsRule
import java.util.Locale
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Minimal robots.txt parsing/rendering (RFC 9309 + de-facto conventions —
  * public format; reference tree empty, SURVEY.md §0). The crawl pipeline's
  * robots_cache table rows are (rules, crawl_delay); this kernel turns raw
  * fetched robots.txt text into those rows, so the cache can be populated
  * from a real fetch instead of pre-structured fixtures.
  *
  * Subset supported (what the politeness gate consumes):
  *   - groups: consecutive `User-agent:` lines then directives
  *   - `Allow:` / `Disallow:` path-prefix rules (no * / $ wildcards — a
  *     prefix engine backs the gate; wildcard lines are dropped)
  *   - `Crawl-delay:` seconds (de-facto, not in RFC 9309)
  *   - `#` comments, blank-line group separation, case-insensitive keys
  *   - group selection per RFC 9309 §2.2.1: a non-empty agent token matches
  *     if it is a case-insensitive PREFIX of the caller's product token
  *     (never substring — a "bot" group must not capture "graftbot");
  *     the longest matching token wins and ALL groups naming it merge;
  *     `*` groups apply only when no named token matches
  *   - dropped wildcard/anchor lines are COUNTED (`nDroppedRules`,
  *     document-wide) so the prefix-subset narrowing is observable
  *     downstream instead of silent
  */
object RobotsKit {

  final case class Parsed(
      rules: Seq[RobotsRule],
      crawlDelayMs: Option[Long],
      nDroppedRules: Int = 0,
      sitemaps: Seq[String] = Seq.empty)

  /** FULL-language parse (c41): wildcard/anchor rules are KEPT as raw
    * patterns for the wildcard matcher instead of dropped-and-counted —
    * `RobotsRule.prefix` holds the pattern verbatim ('*' any-sequence,
    * trailing '$' end-anchor, prefix semantics otherwise). The base
    * prefix-engine `parse` is unchanged (its dropped-rule accounting is
    * what c10 pins); this variant is the opt-in completion of the RFC 9309
    * matching language.
    */
  def parseWildcard(text: String, agent: String = "graftbot"): Parsed =
    parseImpl(text, agent, keepWildcards = true)

  def parse(text: String, agent: String = "graftbot"): Parsed =
    parseImpl(text, agent, keepWildcards = false)

  private def parseImpl(text: String, agent: String,
                        keepWildcards: Boolean): Parsed = {
    if (text == null || text.isEmpty) return Parsed(Seq.empty, None)
    val agentLc = agent.toLowerCase(Locale.ROOT)
    // split into groups: a group = 1+ user-agent lines followed by directives
    final case class Group(agents: Seq[String], rules: Seq[RobotsRule], delayMs: Option[Long])
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    var agents = Vector.empty[String]
    var rules = Vector.empty[RobotsRule]
    var delay: Option[Long] = None
    var inDirectives = false
    var dropped = 0
    // `Sitemap:` is GLOBAL per sitemaps.org — collected document-wide,
    // independent of which agent group is selected; URL case preserved
    var sitemapUrls = Vector.empty[String]
    def flush(): Unit = {
      if (agents.nonEmpty) groups += Group(agents, rules, delay)
      agents = Vector.empty; rules = Vector.empty; delay = None; inDirectives = false
    }
    text.linesIterator.foreach { raw =>
      val line = {
        val h = raw.indexOf('#')
        (if (h >= 0) raw.substring(0, h) else raw).trim
      }
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (inDirectives) flush() // new group starts
              // an empty product token is invalid per RFC 9309 — never let
              // it match every agent at '*' specificity
              if (value.nonEmpty) agents :+= value.toLowerCase(Locale.ROOT)
            case "allow" | "disallow" =>
              inDirectives = true
              // empty Disallow = allow everything (no rule); wildcard rules
              // are outside the prefix engine's language — drop AND COUNT
              if (value.nonEmpty) {
                if (!keepWildcards && (value.contains("*") || value.endsWith("$")))
                  dropped += 1
                else rules :+= RobotsRule(allow = key == "allow", prefix = value)
              }
            case "crawl-delay" =>
              inDirectives = true
              delay = scala.util.Try(math.round(value.toDouble * 1000.0)).toOption
                .filter(_ >= 0)
            case "sitemap" =>
              inDirectives = true
              if (value.nonEmpty) sitemapUrls :+= value
            case _ => inDirectives = true // unknown directive, ignored
          }
        }
      }
    }
    flush()
    // longest prefix-matching named token; all groups naming it merge
    val named = groups.flatMap { g =>
      g.agents.filter(a => a != "*" && agentLc.startsWith(a)).map(a => (a.length, g))
    }
    val selected =
      if (named.nonEmpty) {
        val bestLen = named.map(_._1).max
        named.filter(_._1 == bestLen).map(_._2).distinct.toSeq
      } else groups.filter(_.agents.contains("*")).toSeq
    Parsed(
      selected.flatMap(_.rules),
      selected.flatMap(_.delayMs).headOption,
      dropped,
      sitemapUrls)
  }

  /** Longest-prefix verdict of one host's rules for `path`, over the Spark
    * row bytes (the `robots_allowed` expression's kernel). Each element of
    * `rules` is a struct of `numFields` fields with the prefix at
    * `prefixOrd` and the allow flag at `allowOrd`. A rule matches when
    * `path` starts with its prefix; a null element or null prefix never
    * matches, nor does any rule when `path` is null. The longest match
    * (in code points) wins, the earlier rule keeps a tie, and no match
    * allows. Returns 1 (allow), 0 (disallow) or -1 when the winning rule's
    * allow is null — SQL's three-valued answer, so the caller maps -1 to
    * null.
    */
  def prefixAllowed(rules: ArrayData, path: UTF8String, numFields: Int,
                    prefixOrd: Int, allowOrd: Int): Int = {
    var bestLen = -1
    var verdict = 1
    if (path != null) {
      val n = rules.numElements()
      var i = 0
      while (i < n) {
        if (!rules.isNullAt(i)) {
          val r = rules.getStruct(i, numFields)
          if (!r.isNullAt(prefixOrd)) {
            val p = r.getUTF8String(prefixOrd)
            // numChars <= numBytes: a prefix no longer in bytes than the
            // best match cannot be strictly longer in code points
            if (p.numBytes > bestLen && path.startsWith(p)) {
              val len = p.numChars()
              if (len > bestLen) {
                bestLen = len
                verdict = if (r.isNullAt(allowOrd)) -1 else if (r.getBoolean(allowOrd)) 1 else 0
              }
            }
          }
        }
        i += 1
      }
    }
    verdict
  }

  // ---- c41: wildcard matching (RFC 9309 §2.2.2 full language) ------------

  /** Does a robots path pattern match `path`? '*' matches any character
    * sequence, a trailing '$' anchors the pattern at the end of the path;
    * without '$' the pattern is a prefix matcher (anything may follow).
    * Greedy leftmost placement of the middle segments is sound: it only
    * maximizes the room left for later segments, and the anchored tail is
    * checked against the path END explicitly.
    */
  def wildcardMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val segs = p.split("\\*", -1)
    if (!path.startsWith(segs.head)) return false
    var pos = segs.head.length
    if (segs.length == 1) return !anchored || path.length == pos
    var i = 1
    while (i < segs.length) {
      val seg = segs(i)
      if (i == segs.length - 1 && anchored) {
        if (!(path.endsWith(seg) && path.length - seg.length >= pos)) return false
        pos = path.length
      } else {
        val idx = path.indexOf(seg, pos)
        if (idx < 0) return false
        pos = idx + seg.length
      }
      i += 1
    }
    true
  }

  /** Rule-set verdict under the full language: the most specific match —
    * longest pattern in octets, RFC 9309 §2.2.2 — decides; equal-length
    * ties resolve to allow ("if rules are equivalent, allow SHOULD be
    * used"); no match = allow.
    */
  def wildcardAllowed(rules: Seq[RobotsRule], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    rules.foreach { r =>
      if (wildcardMatches(r.prefix, path)) {
        val len = r.prefix.length
        if (len > bestLen) { bestLen = len; bestAllow = r.allow }
        else if (len == bestLen && r.allow) bestAllow = true
      }
    }
    bestAllow
  }

  /** Render a rule set back to robots.txt text (round-trip property-tested:
    * parse(render(rules)) == rules).
    */
  def render(rules: Seq[RobotsRule], crawlDelayMs: Option[Long],
             agent: String = "*", sitemaps: Seq[String] = Seq.empty): String = {
    val sb = new StringBuilder
    sb.append("User-agent: ").append(agent).append('\n')
    rules.foreach { r =>
      sb.append(if (r.allow) "Allow: " else "Disallow: ").append(r.prefix).append('\n')
    }
    crawlDelayMs.foreach(ms => sb.append("Crawl-delay: ").append(ms / 1000.0).append('\n'))
    sitemaps.foreach(u => sb.append("Sitemap: ").append(u).append('\n'))
    sb.toString
  }
}

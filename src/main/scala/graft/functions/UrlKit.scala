package graft.functions

import java.util.Locale

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Pure, deterministic URL canonicalization (SURVEY.md §2.2 P1).
  *
  * Re-expresses the reference's per-source URL normalization (g0v/news-diff
  * canonicalizes article URLs before keying its versions table; reference
  * tree empty this sandbox — see SURVEY.md §0, semantics per BASELINE.json
  * north_rule "URL canonicalization + 64-bit hashing") as a single pure
  * function usable from a Catalyst Expression with codegen.
  *
  * Guarantees (property-tested): idempotent — canonicalize(canonicalize(u))
  * == canonicalize(u); total — never throws, any garbage in → best-effort
  * string out; JVM-stable — no locale, no default-charset dependence.
  *
  * Steps (RFC 3986 §6 normalization + crawler conventions):
  *   1. trim; strip fragment
  *   2. default scheme http:// when missing; lowercase scheme
  *   3. lowercase host; strip userinfo; strip default port (80/443)
  *   4. path: resolve dot-segments (RFC 3986 §5.2.4), collapse duplicate
  *      slashes, empty path -> "/"
  *   5. uppercase %XX hex in path and query
  *   6. query: drop tracking params (utm_*, gclid, fbclid, ...), drop empty
  *      pairs, sort by (key, value); drop "?" when empty
  */
object UrlKit {

  private val TrackingParams: Set[String] = Set(
    "gclid", "fbclid", "igshid", "mc_cid", "mc_eid", "yclid", "msclkid",
    "ref", "ref_src", "spm", "_ga")

  private val TrackingKeys: Array[String] = TrackingParams.toArray

  private def isTracking(key: String): Boolean =
    key.startsWith("utm_") || TrackingParams.contains(key)

  /** Byte-level entry for the Catalyst expression: one pass over the
    * `UTF8String` bytes for all-ASCII input, byte-for-byte equal to
    * [[canonicalize]] (differentially fuzzed in UrlKitSpec). It writes the
    * canonical form into a per-thread scratch buffer and returns the input
    * reference untouched when the output equals the input (the re-crawl
    * common case), so an already-canonical URL allocates nothing. Any byte
    * >= 0x80 before the fragment, more than `MaxQueryPairs` kept query
    * pairs, or an output that the String form would re-trim takes
    * [[canonicalize]] instead.
    *
    * Allocation is the measured scaling bottleneck in this sandbox (see
    * BENCH/BASELINE.md): the JVM's anon-page commit path serializes under
    * concurrency, so rows that allocate nothing scale best.
    */
  def canonicalizeU8(u: UTF8String): UTF8String = {
    if (u == null) return null
    val n = u.numBytes
    if (n == 0) return u
    val s = scratch.get()
    val out = canonicalizeAscii(u, n, s)
    if (out == Fallback) UTF8String.fromString(canonicalize(u.toString))
    else if (out == 0) UTF8String.EMPTY_UTF8
    else if (out == n && ByteArrayMethods.arrayEquals(u.getBaseObject, u.getBaseOffset,
        s.buf, Platform.BYTE_ARRAY_OFFSET, n)) u
    else UTF8String.fromBytes(java.util.Arrays.copyOf(s.buf, out))
  }

  /** Kept query pairs the byte kernel sorts in place; more go to the
    * String form.
    */
  private val MaxQueryPairs = 64

  private final class Scratch {
    var buf: Array[Byte] = new Array[Byte](256)
    val pairs: Array[Int] = new Array[Int](2 * MaxQueryPairs)
  }
  private val scratch: ThreadLocal[Scratch] = ThreadLocal.withInitial(() => new Scratch)
  private val Fallback = -1

  @inline private def lower(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 32 else c

  /** [[upperPercent]] over `buf[from, until)`, in place. */
  private def upperPercentBytes(buf: Array[Byte], from: Int, until: Int): Unit = {
    var i = from
    while (i + 2 < until) {
      if (buf(i) == '%' && isHex(buf(i + 1).toChar) && isHex(buf(i + 2).toChar)) {
        if (buf(i + 1) >= 'a') buf(i + 1) = (buf(i + 1) - 32).toByte
        if (buf(i + 2) >= 'a') buf(i + 2) = (buf(i + 2) - 32).toByte
      }
      i += 1
    }
  }

  /** [[isTracking]] of the lowercased key `buf[from, until)`. */
  private def isTrackingBytes(buf: Array[Byte], from: Int, until: Int): Boolean = {
    val len = until - from
    if (len >= 4 && lower(buf(from)) == 'u' && lower(buf(from + 1)) == 't' &&
        lower(buf(from + 2)) == 'm' && buf(from + 3) == '_') return true
    var k = 0
    while (k < TrackingKeys.length) {
      val name = TrackingKeys(k)
      if (len == name.length) {
        var i = 0
        while (i < len && lower(buf(from + i)) == name.charAt(i)) i += 1
        if (i == len) return true
      }
      k += 1
    }
    false
  }

  /** Writes canonicalize(u) into `s.buf` for all-ASCII `u` and returns its
    * length, or `Fallback`. Steps follow [[canonicalize]] one to one.
    */
  private def canonicalizeAscii(u: UTF8String, n: Int, s: Scratch): Int = {
    @inline def b(i: Int): Int = u.getByte(i) & 0xff
    // trim
    var lo = 0
    while (lo < n && b(lo) <= ' ') lo += 1
    var hi = n
    while (hi > lo && b(hi - 1) <= ' ') hi -= 1
    if (lo == hi) return 0
    // fragment, first "://", ASCII check
    var end = lo
    var schemeIdx = -1
    while (end < hi && b(end) != '#') {
      val c = b(end)
      if (c >= 0x80) return Fallback
      if (c == ':' && schemeIdx < 0 && end + 2 < hi && b(end + 1) == '/' && b(end + 2) == '/')
        schemeIdx = end
      end += 1
    }
    // the output outgrows the input by at most "http://" + "/", and the
    // query pairs are staged past it (see below)
    val need = 2 * (end - lo) + 16
    if (s.buf.length < need) s.buf = new Array[Byte](math.max(need, 2 * s.buf.length))
    val buf = s.buf
    var o = 0
    // scheme: 1 = http, 2 = https, 0 = other
    var kind = 1
    var rest = lo
    var validScheme = schemeIdx > lo
    if (validScheme) {
      var i = lo
      while (validScheme && i < schemeIdx) {
        val c = lower(b(i))
        validScheme = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
          c == '+' || c == '-' || c == '.'
        i += 1
      }
      rest = schemeIdx + 3
    }
    if (validScheme) {
      var i = lo
      while (i < schemeIdx) { buf(o) = lower(b(i)).toByte; o += 1; i += 1 }
      kind =
        if (o == 4 && buf(0) == 'h' && buf(1) == 't' && buf(2) == 't' && buf(3) == 'p') 1
        else if (o == 5 && buf(0) == 'h' && buf(1) == 't' && buf(2) == 't' && buf(3) == 'p' &&
          buf(4) == 's') 2
        else 0
    } else {
      buf(0) = 'h'; buf(1) = 't'; buf(2) = 't'; buf(3) = 'p'; o = 4
    }
    buf(o) = ':'; buf(o + 1) = '/'; buf(o + 2) = '/'; o += 3
    // authority: userinfo, lowercase, default/empty ports to the fixpoint
    var pathStart = rest
    var at = -1
    while (pathStart < end && b(pathStart) != '/' && b(pathStart) != '?') {
      if (b(pathStart) == '@') at = pathStart
      pathStart += 1
    }
    val authStart = if (at >= 0) at + 1 else rest
    var authEnd = pathStart
    var portDone = false
    while (!portDone) {
      var colon = authEnd - 1
      while (colon >= authStart && b(colon) != ':') colon -= 1
      if (colon < authStart) portDone = true
      else {
        val plen = authEnd - colon - 1
        if (plen == 0 ||
            (kind == 1 && plen == 2 && b(colon + 1) == '8' && b(colon + 2) == '0') ||
            (kind == 2 && plen == 3 && b(colon + 1) == '4' && b(colon + 2) == '4' &&
              b(colon + 3) == '3'))
          authEnd = colon
        else portDone = true
      }
    }
    var i = authStart
    while (i < authEnd) { buf(o) = lower(b(i)).toByte; o += 1; i += 1 }
    // path: dot segments, duplicate slashes, "/" when empty, %XX upper
    var qIdx = pathStart
    while (qIdx < end && b(qIdx) != '?') qIdx += 1
    val pathOut = o
    var trailingSlash = false
    i = pathStart
    while (i < qIdx) {
      // i is at a '/': the segment is (i, segEnd)
      var segEnd = i + 1
      while (segEnd < qIdx && b(segEnd) != '/') segEnd += 1
      val len = segEnd - i - 1
      val dotDot = len == 2 && b(i + 1) == '.' && b(i + 2) == '.'
      // a path ending in "/", "/." or "/.." keeps its trailing slash
      trailingSlash = len == 0 || (len == 1 && b(i + 1) == '.') || dotDot
      if (dotDot) {
        while (o > pathOut && buf(o - 1) != '/') o -= 1
        if (o > pathOut) o -= 1
      } else if (!trailingSlash) {
        buf(o) = '/'; o += 1
        var j = i + 1
        while (j < segEnd) { buf(o) = b(j).toByte; o += 1; j += 1 }
      }
      i = segEnd
    }
    if (o == pathOut || trailingSlash) { buf(o) = '/'; o += 1 }
    upperPercentBytes(buf, pathOut, o)
    // query: non-empty, non-tracking pairs, %XX upper, sorted as bytes;
    // the pairs are staged past the longest possible output
    if (qIdx < end) {
      val pairs = s.pairs
      var np = 0
      var t = (end - lo) + 9
      var start = qIdx + 1
      while (start <= end) {
        var stop = start
        while (stop < end && b(stop) != '&') stop += 1
        if (stop > start) {
          val ps = t
          var eq = -1
          var j = start
          while (j < stop) {
            val c = b(j)
            if (c == '=' && eq < 0) eq = t
            buf(t) = c.toByte; t += 1; j += 1
          }
          upperPercentBytes(buf, ps, t)
          if (isTrackingBytes(buf, ps, if (eq >= 0) eq else t)) t = ps
          else {
            if (np == MaxQueryPairs) return Fallback
            pairs(2 * np) = ps; pairs(2 * np + 1) = t - ps; np += 1
          }
        }
        start = stop + 1
      }
      var k = 1
      while (k < np) { // insertion sort of (start, len) ranges, String order for ASCII
        val ps = pairs(2 * k); val pl = pairs(2 * k + 1)
        var j = k - 1
        while (j >= 0 && java.util.Arrays.compareUnsigned(buf, pairs(2 * j),
            pairs(2 * j) + pairs(2 * j + 1), buf, ps, ps + pl) > 0) {
          pairs(2 * j + 2) = pairs(2 * j); pairs(2 * j + 3) = pairs(2 * j + 1); j -= 1
        }
        pairs(2 * j + 2) = ps; pairs(2 * j + 3) = pl
        k += 1
      }
      k = 0
      while (k < np) {
        buf(o) = (if (k == 0) '?' else '&').toByte; o += 1
        System.arraycopy(buf, pairs(2 * k), buf, o, pairs(2 * k + 1)); o += pairs(2 * k + 1)
        k += 1
      }
    }
    // canonicalize re-runs on an output ending in a byte <= ' '
    if ((buf(o - 1) & 0xff) <= ' ') Fallback else o
  }

  def canonicalize(raw: String): String = {
    if (raw == null) return null
    var s = raw.trim
    if (s.isEmpty) return s
    // 1. fragment
    val hashIdx = s.indexOf('#')
    if (hashIdx >= 0) s = s.substring(0, hashIdx)
    // 2. scheme
    val schemeIdx = s.indexOf("://")
    var (scheme, rest) =
      if (schemeIdx > 0) (s.substring(0, schemeIdx).toLowerCase(Locale.ROOT), s.substring(schemeIdx + 3))
      else ("http", s)
    if (!scheme.forall(c => c.isLetterOrDigit || c == '+' || c == '-' || c == '.'))
      scheme = "http"
    // 3. authority / path / query split
    var pathStart = rest.indexWhere(c => c == '/' || c == '?')
    if (pathStart < 0) pathStart = rest.length
    var authority = rest.substring(0, pathStart)
    val pathAndQuery = rest.substring(pathStart)
    // userinfo
    val atIdx = authority.lastIndexOf('@')
    if (atIdx >= 0) authority = authority.substring(atIdx + 1)
    authority = authority.toLowerCase(Locale.ROOT)
    // default port — strip to FIXPOINT: a single strip of a trailing
    // empty/default port can expose another one ("h:80:80", "h:::"), which
    // would break idempotence (fuzz-caught)
    var portDone = false
    while (!portDone) {
      val colonIdx = authority.lastIndexOf(':')
      if (colonIdx >= 0) {
        val port = authority.substring(colonIdx + 1)
        if (port.isEmpty ||
            (scheme == "http" && port == "80") ||
            (scheme == "https" && port == "443"))
          authority = authority.substring(0, colonIdx)
        else portDone = true
      } else portDone = true
    }
    authority = toAsciiHost(authority)
    // 4-6. path + query
    val qIdx = pathAndQuery.indexOf('?')
    val rawPath = if (qIdx >= 0) pathAndQuery.substring(0, qIdx) else pathAndQuery
    val rawQuery = if (qIdx >= 0) pathAndQuery.substring(qIdx + 1) else ""
    val path = upperPercent(normalizePath(rawPath))
    val query = normalizeQuery(rawQuery)
    val sb = new StringBuilder(scheme.length + authority.length + path.length + query.length + 4)
    sb.append(scheme).append("://").append(authority).append(path)
    if (query.nonEmpty) sb.append('?').append(query)
    val out = sb.toString
    // fragment strip / query reorder can surface trailing whitespace that
    // the next pass would trim — recurse to the (strictly shrinking)
    // fixpoint so canonicalize is idempotent on garbage too (fuzz-caught)
    if (out != out.trim) canonicalize(out.trim) else out
  }

  /** IDN host -> punycode ACE (RFC 3490 ToASCII via java.net.IDN), so
    * `http://例え.jp/` and `http://xn--r8jz45g.jp/` canonicalize to the SAME
    * seen-set key — without this, every internationalized domain is crawled
    * twice (once per spelling). ASCII authorities (the overwhelmingly common
    * case, and every fast-path survivor) return the input reference
    * untouched; a host java.net.IDN rejects (stray bidi marks, overlong
    * labels) falls back to the lowercased original rather than failing the
    * whole canonicalization. Port suffix (already non-default here) is
    * preserved verbatim. Idempotent: the output is pure ASCII, so a second
    * pass takes the fast return.
    */
  private def toAsciiHost(auth: String): String = {
    var i = 0
    var ascii = true
    while (ascii && i < auth.length) { if (auth.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) return auth
    val colonIdx = auth.lastIndexOf(':')
    val hasPort = colonIdx >= 0 && colonIdx < auth.length - 1 &&
      auth.substring(colonIdx + 1).forall(_.isDigit)
    val host = if (hasPort) auth.substring(0, colonIdx) else auth
    val port = if (hasPort) auth.substring(colonIdx) else ""
    val ace =
      try java.net.IDN.toASCII(host, java.net.IDN.ALLOW_UNASSIGNED).toLowerCase(Locale.ROOT)
      catch { case _: IllegalArgumentException => host }
    ace + port
  }

  /** RFC 3986 §5.2.4 remove_dot_segments + duplicate-slash collapse. */
  private def normalizePath(p: String): String = {
    if (p.isEmpty) return "/"
    val segs = p.split("/", -1)
    val out = new scala.collection.mutable.ArrayBuffer[String](segs.length)
    var i = 0
    while (i < segs.length) {
      segs(i) match {
        case "" | "."  => // collapse // and /./
        case ".."      => if (out.nonEmpty) out.remove(out.length - 1)
        case seg       => out += seg
      }
      i += 1
    }
    val trailingSlash = p.endsWith("/") || p.endsWith("/.") || p.endsWith("/..")
    val body = out.mkString("/")
    if (body.isEmpty) "/"
    else if (trailingSlash) "/" + body + "/"
    else "/" + body
  }

  /** Uppercase hex digits of %XX escapes; leave everything else untouched. */
  private def upperPercent(s: String): String = {
    var i = s.indexOf('%')
    if (i < 0) return s
    val chars = s.toCharArray
    while (i >= 0 && i + 2 < chars.length) {
      val a = chars(i + 1); val b = chars(i + 2)
      if (isHex(a) && isHex(b)) {
        chars(i + 1) = Character.toUpperCase(a)
        chars(i + 2) = Character.toUpperCase(b)
      }
      i = s.indexOf('%', i + 1)
    }
    new String(chars)
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private def normalizeQuery(q: String): String = {
    if (q.isEmpty) return ""
    val kept = q.split("&", -1).iterator
      .filter(_.nonEmpty)
      .map(upperPercent)
      .filter { pair =>
        val eq = pair.indexOf('=')
        val key = if (eq >= 0) pair.substring(0, eq) else pair
        !isTracking(key.toLowerCase(Locale.ROOT))
      }
      .toArray
    java.util.Arrays.sort(kept, java.util.Comparator.naturalOrder[String]())
    kept.mkString("&")
  }

  /** Host of an ALREADY-canonical URL (cheap split; no re-parse). */
  def hostOf(canon: String): String = {
    if (canon == null) return null
    val i = canon.indexOf("://")
    if (i < 0) return ""
    val rest = canon.substring(i + 3)
    var j = rest.indexWhere(c => c == '/' || c == '?')
    if (j < 0) j = rest.length
    rest.substring(0, j)
  }

  /** [[hostOf]] on the `UTF8String` bytes: no String round trip. The
    * separators are ASCII, and no byte of a multi-byte UTF-8 sequence is,
    * so byte indices cut exactly where the char indices do.
    */
  def hostOfU8(canon: UTF8String): UTF8String = {
    val i = schemeEnd(canon)
    if (i < 0) return UTF8String.EMPTY_UTF8
    val n = canon.numBytes
    var j = i
    while (j < n && canon.getByte(j) != '/' && canon.getByte(j) != '?') j += 1
    slice(canon, i, j)
  }

  /** [[pathOf]] on the `UTF8String` bytes (same cut argument as [[hostOfU8]]). */
  def pathOfU8(canon: UTF8String): UTF8String = {
    val i = schemeEnd(canon)
    if (i < 0) return Root
    val n = canon.numBytes
    var slash = i
    while (slash < n && canon.getByte(slash) != '/') slash += 1
    if (slash == n) return Root
    var q = slash
    while (q < n && canon.getByte(q) != '?') q += 1
    slice(canon, slash, q)
  }

  private val Root = UTF8String.fromString("/")

  /** Byte index just past the first "://", or -1. */
  private def schemeEnd(u: UTF8String): Int = {
    val last = u.numBytes - 3
    var i = 0
    while (i <= last) {
      if (u.getByte(i) == ':' && u.getByte(i + 1) == '/' && u.getByte(i + 2) == '/') return i + 3
      i += 1
    }
    -1
  }

  /** Copy of bytes [from, until): the input may sit in a reused row buffer. */
  private def slice(u: UTF8String, from: Int, until: Int): UTF8String = {
    val bytes = new Array[Byte](until - from)
    Platform.copyMemory(u.getBaseObject, u.getBaseOffset + from, bytes,
      Platform.BYTE_ARRAY_OFFSET, until - from)
    UTF8String.fromBytes(bytes)
  }

  /** Embedded public-suffix snapshot (a deterministic SUBSET of the public
    * PSL — publicsuffix.org; multi-label entries that matter for politeness
    * grouping plus the generic single-label TLDs the synthetic hosts use).
    * Longest-match-first order is established by the lookup, not the list.
    */
  val PublicSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.mx",
    "com", "org", "net", "io", "dev", "info", "uk", "au", "jp", "br", "mx")

  /** Registrable domain (eTLD+1) of a host: the longest matching public
    * suffix from the snapshot plus one label. Unknown TLDs fall back to
    * "last label is the suffix" (PSL's prevailing-star rule collapsed to
    * its default); a host that IS a public suffix has no registrable
    * domain and returns itself. Politeness and budget policy at crawl
    * scale group on THIS, not raw host — every subdomain of a news CDN
    * shares one budget.
    */
  def registrableDomain(host: String): String = {
    if (host == null || host.isEmpty) return host
    val best = PublicSuffixes.foldLeft("") { (acc, s) =>
      val hit = host == s || host.endsWith("." + s)
      if (hit && s.length > acc.length) s else acc
    }
    val sufLabels =
      if (best.isEmpty) 1 else best.count(_ == '.') + 1
    val labels = host.split('.')
    val take = math.min(labels.length, sufLabels + 1)
    labels.takeRight(take).mkString(".")
  }

  /** Path (incl. leading '/') of an ALREADY-canonical URL, sans query. */
  def pathOf(canon: String): String = {
    if (canon == null) return null
    val i = canon.indexOf("://")
    if (i < 0) return "/"
    val rest = canon.substring(i + 3)
    val slash = rest.indexOf('/')
    if (slash < 0) return "/"
    val q = rest.indexOf('?', slash)
    if (q < 0) rest.substring(slash) else rest.substring(slash, q)
  }
}

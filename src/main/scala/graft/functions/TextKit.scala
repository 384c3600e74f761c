package graft.functions

/** Pure text kernels for the training-data-pipeline operators (builder
  * brief: dedup / fingerprinting / quality): tokenization, shingling,
  * SimHash, MinHash. All hashing derives from splitmix64 + Spark-compatible
  * xxhash64 — deterministic, JVM-stable, no locale.
  */
object TextKit {

  def tokenize(text: String): Array[String] = {
    if (text == null) return Array.empty
    val t = text.trim.toLowerCase(java.util.Locale.ROOT)
    if (t.isEmpty) Array.empty else t.split("\\W+").filter(_.nonEmpty)
  }

  /** Hashes of word k-shingles (k consecutive tokens joined by ''). */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val toks = tokenize(text)
    if (toks.length < k) {
      if (toks.isEmpty) Array.empty
      else Array(hashString(toks.mkString("")))
    } else {
      val out = new Array[Long](toks.length - k + 1)
      var i = 0
      while (i + k <= toks.length) {
        out(i) = hashString(toks.slice(i, i + k).mkString(""))
        i += 1
      }
      out
    }
  }

  /** Composed length-L window identities of a document — index i of the
    * result is the key of the window starting at code point i (SuffixOps
    * prefix doubling, computed per doc in one pass).
    *
    * Exactly the value chain the former distributed form produced: seeds
    * are Spark `xxhash64(substring(text, pos+1, w))` (XXH64 over the
    * window's UTF-8 bytes, seed 42), composition is Spark
    * `xxhash64(r, r2)` (seed 42, then each long chained through
    * XXH64.hashLong). All composition is WITHIN one document, so the
    * per-doc kernel replaces log2(L/8) corpus-wide self sort-merge joins
    * with zero exchanges; the (doc_id, pos, k) contract is unchanged.
    */
  def windowKeyArr(u: org.apache.spark.unsafe.types.UTF8String, L: Int): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val nBytes = u.numBytes()
    val base = u.getBaseObject
    val off = u.getBaseOffset
    // code-point -> byte-offset table (substring() is code-point based)
    var len = 0
    var b = 0
    while (b < nBytes) {
      b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(u.getByte(b))
      len += 1
    }
    if (len < L) return Array.emptyLongArray
    val offs = new Array[Int](len + 1)
    var i = 0
    b = 0
    while (b < nBytes) {
      offs(i) = b
      b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(u.getByte(b))
      i += 1
    }
    offs(len) = nBytes
    val seedW = math.min(8, L)
    var width = seedW
    var valid = len - seedW + 1
    val r = new Array[Long](valid)
    i = 0
    while (i < valid) {
      r(i) = XXH64.hashUnsafeBytes(base, off + offs(i),
        offs(i + seedW) - offs(i), 42L)
      i += 1
    }
    // in-place doubling, ascending pos (r(i+width) not yet overwritten)
    while (width * 2 <= L) {
      valid = len - 2 * width + 1
      i = 0
      while (i < valid) {
        r(i) = XXH64.hashLong(r(i + width), XXH64.hashLong(r(i), 42L))
        i += 1
      }
      width *= 2
    }
    if (width == L) {
      if (valid == r.length) r else java.util.Arrays.copyOf(r, valid)
    } else {
      // Manber-Myers overlapping finish: [pos, pos+L) = [pos, pos+width)
      // composed with [pos+L-width, pos+L)
      val o = L - width
      valid = len - L + 1
      val out = new Array[Long](valid)
      i = 0
      while (i < valid) {
        out(i) = XXH64.hashLong(r(i + o), XXH64.hashLong(r(i), 42L))
        i += 1
      }
      out
    }
  }

  def hashString(s: String): Long = {
    // FNV-1a 64 over UTF-8 then splitmix finish — cheap, stable.
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    ImageKit.mix64(h)
  }

  /** 64-bit SimHash over word 3-shingles: bitwise majority vote. */
  def simhash64(text: String): Long = {
    val hs = shingleHashes(text, 3)
    if (hs.isEmpty) return 0L
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** k-permutation MinHash signature via per-slot xor-mix (one pass). */
  def minhashSig(text: String, k: Int, shingleK: Int = 3): Array[Long] = {
    val hs = shingleHashes(text, shingleK)
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      var j = 0
      while (j < k) {
        val h = ImageKit.mix64(hs(i) ^ (0x9e3779b97f4a7c15L * (j + 1)))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band keys: signature split into `bands` groups of rows, each
    * hashed to one bucket key. Near-dup pairs share >=1 band key w.h.p.
    */
  def bandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val rows = sig.length / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x2545f4914f6cdd1dL ^ b
      var r = 0
      while (r < rows) { h = ImageKit.mix64(h ^ sig(b * rows + r)); r += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  def jaccardShingles(a: String, b: String, shingleK: Int = 3): Double = {
    val sa = shingleHashes(a, shingleK).toSet
    val sb = shingleHashes(b, shingleK).toSet
    if (sa.isEmpty && sb.isEmpty) return 1.0
    val inter = sa.intersect(sb).size.toDouble
    inter / (sa.size + sb.size - inter)
  }

  /** Winnowing-style document fingerprint (builder brief "rolling hash"):
    * Rabin-Karp rolling hash over a fixed byte window, fingerprint = the
    * minimum mixed window hash. Local edits leave the fingerprint unchanged
    * unless they touch (or create) the minimal window — the classic
    * near-identity fingerprint, one pass, zero allocation beyond the bytes.
    */
  def rollingFingerprint(text: String, window: Int = 16): Long = {
    if (text == null || text.isEmpty) return 0L
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.length <= window) return hashString(text)
    val B = 0x100000001b3L
    var bw = 1L
    var i = 0
    while (i < window - 1) { bw *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    var minH = ImageKit.mix64(h)
    while (i < bytes.length) {
      h = (h - (bytes(i - window) & 0xffL) * bw) * B + (bytes(i) & 0xffL)
      val m = ImageKit.mix64(h)
      if (java.lang.Long.compareUnsigned(m, minH) < 0) minH = m
      i += 1
    }
    minH
  }

  /** Winnowed (offset, hash) anchors over k-byte rolling windows
    * (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD 2003 — public algorithm, the MOSS kernel):
    * within every run of `w` consecutive k-gram hashes the minimum
    * (rightmost on ties) is selected, which GUARANTEES any substring
    * shared between two documents of length >= k + w - 1 contributes at
    * least one identical selected (hash) anchor, at ~2/(w+1) the density
    * of emitting every window. This is the scan-side kernel of
    * exact-substring dedup (the repeated-span screen of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL 2022
    * — public work; the suffix-array construction there is replaced by
    * this shuffle-friendly anchor join).
    */
  def winnowedWindows(text: String, k: Int = 50, w: Int = 8): Array[(Int, Long)] = {
    if (text == null) return Array.empty
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = bytes.length - k + 1
    if (n <= 0) return Array.empty
    val hs = new Array[Long](n)
    val B = 0x100000001b3L
    var bw = 1L
    var i = 0
    while (i < k - 1) { bw *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    hs(0) = ImageKit.mix64(h)
    while (i < bytes.length) {
      h = (h - (bytes(i - k) & 0xffL) * bw) * B + (bytes(i) & 0xffL)
      hs(i - k + 1) = ImageKit.mix64(h)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var lastPick = -1
    var win = 0
    while (win <= n - w || (win == 0 && n < w)) {
      val end = math.min(n, win + w)
      var best = win
      var j = win + 1
      while (j < end) {
        if (java.lang.Long.compareUnsigned(hs(j), hs(best)) <= 0) best = j
        j += 1
      }
      if (best != lastPick) { out += ((best, hs(best))); lastPick = best }
      win += 1
    }
    out.toArray
  }

  /** BPE-ish subword-token count (builder brief "token counting"): the
    * public GPT-2-style pre-tokenizer regex — contractions, letter runs,
    * digit runs, punctuation runs, whitespace — counted without
    * materializing tokens. Approximates LLM token cost without a merges
    * table (which would be external data).
    */
  private val BpeLike = java.util.regex.Pattern.compile(
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+")
  def bpeTokenCount(text: String): Int = {
    if (text == null || text.isEmpty) return 0
    val m = BpeLike.matcher(text)
    var n = 0
    while (m.find()) n += 1
    n
  }

  private val EnStop = Set("the", "a", "an", "of", "to", "and", "in", "is",
    "it", "that", "was", "for", "on", "with", "as", "at", "by", "be")

  /** Heuristic quality score in [0,1]: length band + alpha ratio +
    * stopword presence (English-ish prose scores high; junk scores low).
    */
  def qualityScore(text: String): Double = {
    if (text == null || text.isEmpty) return 0.0
    val toks = tokenize(text)
    if (toks.isEmpty) return 0.0
    val nChars = text.length
    val lenScore = math.min(1.0, nChars / 200.0) * (if (nChars > 20000) 0.5 else 1.0)
    var alpha = 0
    var i = 0
    while (i < text.length) { if (text(i).isLetter || text(i).isWhitespace) alpha += 1; i += 1 }
    val alphaRatio = alpha.toDouble / nChars
    val stopRatio = toks.count(EnStop.contains).toDouble / toks.length
    val stopScore = math.min(1.0, stopRatio / 0.3)
    0.4 * lenScore + 0.4 * alphaRatio + 0.2 * stopScore
  }

  /** Remove repeated-span extents from a document — the corpus ACTION of
    * the repeated-span screen (Lee et al. ACL 2022 clip the shared
    * substring and keep the rest; doc-level drop over-deletes on partial
    * overlap). `extents` are (firstAnchorOff, lastAnchorOff) pairs in BYTE
    * offsets as emitted by the winnowed-anchor pair aggregation: an anchor
    * at offset o covers window bytes [o, o+k), so extent (f, t) clips
    * [f, t+k). Overlapping/adjacent extents are merged first; offsets are
    * clamped to the document; the surviving byte runs are re-decoded as
    * UTF-8. Shared by the Spark operator's UDF and the single-threaded
    * mirror (kernel-parity discipline).
    */
  def clipSpans(text: String, extents: Seq[(Int, Int)], k: Int = 50): String = {
    if (text == null || extents.isEmpty) return text
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ranges = extents
      .map { case (f, t) => (math.max(0, f), math.min(bytes.length, t + k)) }
      .filter { case (f, t) => t > f }
      .sorted
    if (ranges.isEmpty) return text
    val merged = scala.collection.mutable.ArrayBuffer[(Int, Int)](ranges.head)
    ranges.tail.foreach { case (f, t) =>
      val (lf, lt) = merged.last
      if (f <= lt) merged(merged.length - 1) = (lf, math.max(lt, t))
      else merged += ((f, t))
    }
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    var pos = 0
    merged.foreach { case (f, t) =>
      out.write(bytes, pos, f - pos)
      pos = t
    }
    out.write(bytes, pos, bytes.length - pos)
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Tiny n-gram language-ID heuristic over a fixed marker table. */
  /** Word-level minimal edit script between two strings — the engine's
    * analog of news-diff's user-facing version diff rendering (the one
    * surface feature not otherwise represented as an operator). Tokens are
    * [[tokenize]]'s lowercased \W+ words (diffing is over CONTENT words,
    * same normalization as every other text operator here); the script is
    * a minimal LCS edit sequence (Wagner-Fischer DP) with a deterministic
    * backtrack tie-break (keep > del > ins), adjacent same-op tokens
    * merged into space-joined spans.
    *
    * Invariants (property-tested in CaptionDiffSpec):
    *   keep+del spans spell `from`'s tokens in order;
    *   keep+ins spans spell `to`'s tokens in order;
    *   kept token count == LCS length (minimality);
    *   no two adjacent spans share an op (maximal merge).
    */
  def wordDiff(from: String, to: String): Seq[(String, String)] = {
    val a = tokenize(if (from == null) "" else from)
    val b = tokenize(if (to == null) "" else to)
    val n = a.length; val m = b.length
    // dp(i)(j) = LCS length of a(i..) vs b(j..)
    val dp = Array.ofDim[Int](n + 1, m + 1)
    var i = n - 1
    while (i >= 0) {
      var j = m - 1
      while (j >= 0) {
        dp(i)(j) =
          if (a(i) == b(j)) dp(i + 1)(j + 1) + 1
          else math.max(dp(i + 1)(j), dp(i)(j + 1))
        j -= 1
      }
      i -= 1
    }
    val ops = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var x = 0; var y = 0
    while (x < n || y < m) {
      if (x < n && y < m && a(x) == b(y)) { ops += (("keep", a(x))); x += 1; y += 1 }
      else if (y == m || (x < n && dp(x + 1)(y) >= dp(x)(y + 1))) {
        ops += (("del", a(x))); x += 1
      } else { ops += (("ins", b(y))); y += 1 }
    }
    // merge adjacent same-op tokens into spans
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    ops.foreach { case (op, tok) =>
      if (out.nonEmpty && out.last._1 == op)
        out(out.length - 1) = (op, out.last._2 + " " + tok)
      else out += ((op, tok))
    }
    out.toSeq
  }

  def langId(text: String): String = {
    val toks = tokenize(text).take(400)
    if (toks.isEmpty) return "und"
    val markers: Map[String, Set[String]] = Map(
      "en" -> Set("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
      "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
      "fr" -> Set("le", "la", "les", "et", "est", "une", "des", "que", "pour", "dans"),
      "es" -> Set("el", "la", "los", "y", "es", "una", "que", "por", "para", "con"),
      "it" -> Set("il", "la", "di", "che", "e", "un", "per", "con", "del", "sono"))
    val scores = markers.map { case (lang, set) => lang -> toks.count(set.contains) }
    val (best, score) = scores.maxBy { case (l, s) => (s, l) }
    if (score == 0) "und" else best
  }
}

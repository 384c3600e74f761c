package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class UrlKitSpec extends AnyFunSuite {

  test("canonicalize: table of dirty -> clean") {
    val cases = Seq(
      "HTTP://News1.Example.COM:80/news/tech/art-5#frag" ->
        "http://news1.example.com/news/tech/art-5",
      "https://host.com:443/a/b/../c/./d" -> "https://host.com/a/c/d",
      "http://host.com" -> "http://host.com/",
      "http://host.com/p?b=2&a=1" -> "http://host.com/p?a=1&b=2",
      "http://host.com/p?utm_source=x&a=1&fbclid=z" -> "http://host.com/p?a=1",
      "http://user:pw@host.com/x" -> "http://host.com/x",
      "http://host.com//a///b" -> "http://host.com/a/b",
      "http://host.com/%2fa%2F" -> "http://host.com/%2Fa%2F",
      "host.com/implicit" -> "http://host.com/implicit",
      "http://host.com/a/" -> "http://host.com/a/")
    cases.foreach { case (in, want) =>
      assert(UrlKit.canonicalize(in) == want, s"input: $in")
    }
  }

  test("canonicalize: IDN hosts map to the punycode ACE spelling (one seen-set key)") {
    // unicode and ACE spellings of the same host MUST collide in the seen set
    assert(UrlKit.canonicalize("http://例え.jp/a") == "http://xn--r8jz45g.jp/a")
    assert(UrlKit.canonicalize("http://xn--r8jz45g.jp/a") == "http://xn--r8jz45g.jp/a")
    assert(UrlKit.canonicalize("http://例え.jp/a") ==
      UrlKit.canonicalize("http://XN--R8JZ45G.jp/a"))
    // mixed-case unicode, non-default port preserved, idempotent output
    val c = UrlKit.canonicalize("http://BÜcher.example:8080/x")
    assert(c == "http://xn--bcher-kva.example:8080/x")
    assert(UrlKit.canonicalize(c) == c)
    // a host IDN rejects falls back to lowercase-as-is, never throws
    val weird = UrlKit.canonicalize("http://" + ("ü" * 70) + ".com/x")
    assert(UrlKit.canonicalize(weird) == weird)
  }

  // exhaustive dirty-URL cross-product (1120 combos, deterministic)
  private val dirtyUrls: Seq[String] = for {
    scheme <- Seq("http", "HTTP", "https", "")
    host <- Seq("News1.Example.com", "a.b.c", "HOST.COM:80", "h.io:8080")
    path <- Seq("", "/", "/a/b", "/a/../b", "/a/./b/", "//x//y", "/p%2fq")
    query <- Seq("", "?b=2&a=1", "?utm_source=x", "?a=1&a=0", "?k")
    frag <- Seq("", "#z")
  } yield (if (scheme.isEmpty) "" else scheme + "://") + host + path + query + frag

  test("canonicalize is idempotent and total (exhaustive product)") {
    dirtyUrls.foreach { u =>
      val c1 = UrlKit.canonicalize(u)
      assert(UrlKit.canonicalize(c1) == c1, s"not idempotent for $u -> $c1")
    }
    // garbage never throws
    Seq("", "   ", "::::", "%", "?#", "http://", "a b c").foreach(UrlKit.canonicalize)
  }

  test("fast path accepts ONLY fixed points of the slow path (exhaustive + garbage + fuzz)") {
    import org.apache.spark.unsafe.types.UTF8String
    def check(u: String): Unit = {
      val slow = UrlKit.canonicalize(u)
      val fast = UrlKit.canonicalizeU8(UTF8String.fromString(u)).toString
      assert(fast == slow, s"fast != slow for <$u>: <$fast> vs <$slow>")
      // and every slow output must map to itself through the byte kernel
      val again = UrlKit.canonicalizeU8(UTF8String.fromString(slow)).toString
      assert(again == slow, s"not idempotent via fast path: <$slow> -> <$again>")
    }
    dirtyUrls.foreach(check)
    dirtyUrls.map(UrlKit.canonicalize).foreach(check)
    Seq("", "   ", "::::", "%", "?#", "http://", "a b c",
      "http://h/p?", "http://h/p?&", "http://h/p?a=1&", "http://h/p?b=1&a=2",
      "http://h/p?a=1&a=0", "http://h/p?a=1&b=2", "http://h/p?A=1&a=2",
      "http://h:08/p", "http://h:80/p", "http://h:8080/p", "https://h:443/p",
      "https://h:4431/p", "http://h:/p", "http://h.com/a%2fb", "http://h.com/a%2Fb",
      "http://h/.", "http://h/..", "http://h/a/.", "http://h/a/..", "http://h/a/...",
      "http://h/.well-known/x", "http://h/a//b", "http://h/a/ ", "http://h/ü/x",
      "http://hÜst/x", "http://h/p?k=ü", "http://h/p#", "http://h/p?utm_x=1",
      "http://h/p?UTM_X=1", "http://h/p?ref=1", "http://h/p?refx=1")
      .foreach(check)
    // deterministic fuzz: random ascii-ish strings through the same contract
    val rnd = new scala.util.Random(42)
    val alphabet = "htps:/?#&=.%ab YZ08_-ü"
    (0 until 5000).foreach { _ =>
      val len = rnd.nextInt(40)
      check((0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
  }

  /** A seeded URL-shaped ASCII string: each part is drawn from the cases
    * the canonicalizer treats specially, so most draws exercise several.
    */
  private def dirtyAscii(rnd: scala.util.Random): String = {
    def pick(xs: String*): String = xs(rnd.nextInt(xs.length))
    val ws = Seq(" ", "\t", "\n", "\u0000", "\u001f", "\u0020")
    def junk: String = (0 until rnd.nextInt(3)).map(_ => ws(rnd.nextInt(ws.size))).mkString
    val scheme = pick("", "", "http://", "HTTP://", "https://", "HtTpS://", "ftp://",
      "FILE://", "a b://", "://", "+.-://", "1x://", "http:/", "http:")
    val user = pick("", "", "", "u@", "U:P@", "@", "a@b@")
    val host = pick("host.com", "Host.COM", "WIKI.EXAMPLE.COM", "h", "a-b_c.io", "",
      "xn--r8jz45g.jp", "I.i", "h.io")
    val port = pick("", "", "", ":80", ":443", ":", ":80:80", ":8080", "::", ":443:", ":0", ":08")
    val segs = Seq("", ".", "..", "a", "B", "%2f", "%2F", "%aB", "%zz", "%", "%a", "...",
      "a b", "x.y", ".well-known", "a%")
    val path = (0 until rnd.nextInt(5)).map { _ =>
      pick("/", "/", "/", "//") + segs(rnd.nextInt(segs.size))
    }.mkString
    val pairs = Seq("", "a=1", "b=2", "A=1", "a=0", "utm_source=x", "UTM_Medium=y",
      "GCLID=1", "Ref=2", "ref_src=3", "refx=1", "k", "=v", "a=%2f", "b=%2F", "a=1=2",
      "_GA=1", "mc_CID=3", "spm", "x=%e2%82", "b= ")
    val query =
      if (rnd.nextInt(3) == 0) ""
      else "?" + (0 until rnd.nextInt(6)).map(_ => pairs(rnd.nextInt(pairs.size))).mkString("&")
    val frag = pick("", "", "#", "#f", "#a?b&c=d", "#x#y", "#ü")
    junk + scheme + user + host + port + path + query + frag + junk
  }

  test("byte kernel == canonicalize(String) on a seeded 100k dirty-URL fuzz") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(20261019L)
    val alphabet = "hHtTpPsS:/?#&=.%aAbBfF0189_-@ \t\u0000~;,+uUmM"
    var identities = 0
    def check(u: String, byRef: Boolean = true): String = {
      val in = UTF8String.fromString(u)
      val fast = UrlKit.canonicalizeU8(in)
      val slow = UrlKit.canonicalize(u)
      assert(fast.toString == slow, s"byte kernel != String form for <$u>: <$fast> vs <$slow>")
      if (byRef && slow == u && u.forall(_ < 0x80)) {
        assert(fast eq in, s"canonical ASCII input <$u> was copied, not returned")
        identities += 1
      }
      slow
    }
    (0 until 100000).foreach { i =>
      val u = i % 4 match {
        case 0 | 1 => dirtyAscii(rnd)
        case 2 => (0 until rnd.nextInt(48)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        case _ => // non-ASCII: the String fallback must give the same answer
          val s = dirtyAscii(rnd)
          val at = rnd.nextInt(s.length + 1)
          s.substring(0, at) + Seq("ü", "例え", "\u00a0", "İ")(rnd.nextInt(4)) + s.substring(at)
      }
      check(check(u)) // and the canonical form, a fixed point, by reference
    }
    // past the kernel's in-place pair sort (the String form answers, by
    // copy) and past its first scratch buffer
    val manyPairs = (0 until 100).map(i => s"K${99 - i}=v&utm_$i=x").mkString("HTTP://H/p?", "&", "")
    check(check(manyPairs), byRef = false)
    check(check("http://H/" + "a%2f/./../b//" * 40 + "?z=1&" + "y=%2f&" * 40))
    assert(identities > 50000, s"only $identities fixed points returned by reference")
  }

  test("canonicalize does not depend on the default locale") {
    import org.apache.spark.unsafe.types.UTF8String
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      val u = "HTTP://WIKI.EXAMPLE.COM/a?GCLID=1&b=1"
      assert(UrlKit.canonicalize(u) == "http://wiki.example.com/a?b=1")
      assert(UrlKit.canonicalizeU8(UTF8String.fromString(u)).toString ==
        "http://wiki.example.com/a?b=1")
      assert(UrlKit.canonicalize("FILE://H/x") == "file://h/x")
      val robots = RobotsKit.parse("USER-AGENT: *\nDISALLOW: /x\nSITEMAP: http://h/s.xml\n")
      assert(robots.rules == Seq(graft.model.RobotsRule(allow = false, "/x")))
      assert(robots.sitemaps == Seq("http://h/s.xml"))
      assert(TextKit.tokenize("TITLE").toSeq == Seq("title"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("host_of/path_of byte kernels == the String forms") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(7L)
    val fixed = Seq("", "h", "/", "?", "://", "http://", "http://h", "http://h?x=/y",
      "http://h/a?b", "h/a/b", "h?x/y", "a://b://c/d", "http://h:8080/x?q=1/2",
      "http://例え.jp/ü?ä=/x", "ftp://u@h/p", ":/", "x:/y", "http://h#f/x")
    val drawn = (0 until 20000).map { i =>
      val u = dirtyAscii(rnd)
      if (i % 2 == 0) UrlKit.canonicalize(u) else u
    }
    (fixed ++ drawn).foreach { u =>
      val b = UTF8String.fromString(u)
      assert(UrlKit.hostOfU8(b).toString == UrlKit.hostOf(u), s"host_of <$u>")
      assert(UrlKit.pathOfU8(b).toString == UrlKit.pathOf(u), s"path_of <$u>")
    }
  }

  test("hostOf/pathOf on canonical forms") {
    val c = UrlKit.canonicalize("HTTP://H.com:80/x/y?b=1&a=2#f")
    assert(UrlKit.hostOf(c) == "h.com")
    assert(UrlKit.pathOf(c) == "/x/y")
    assert(UrlKit.pathOf("http://h.com") == "/")
  }
}

class ImageKitSpec extends AnyFunSuite {

  test("png roundtrip is lossless; jpeg meets PSNR>=40dB (input_hint invariant)") {
    for (seed <- Seq(1L, 42L, 987654321L); variant <- 0 to 2) {
      val (w, h) = (48, 32)
      val px = ImageKit.genPixels(seed, variant, w, h)
      val png = ImageKit.encode(px, w, h, "png")
      val (dp, dw, dh) = ImageKit.decodeGray(png)
      assert((dw, dh) == (w, h))
      assert(ImageKit.psnr(px, dp).isPosInfinity, "png must be exact")
      val jpg = ImageKit.encode(px, w, h, "jpeg")
      val (dj, _, _) = ImageKit.decodeGray(jpg)
      val p = ImageKit.psnr(px, dj)
      assert(p >= 40.0, s"jpeg PSNR $p < 40 (seed=$seed v=$variant)")
    }
  }

  test("phash: stable, format-robust, variant-sensitive") {
    val (w, h) = (48, 32)
    val px = ImageKit.genPixels(7L, 0, w, h)
    val png = ImageKit.encode(px, w, h, "png")
    assert(ImageKit.phash64(png) == ImageKit.phash64(png))
    // same pixels via lossy jpeg: perceptually identical
    val jpg = ImageKit.encode(px, w, h, "jpeg")
    assert(ImageKit.hamming64(ImageKit.phash64(png), ImageKit.phash64(jpg)) <= 4)
    // a revision (different variant) must exceed the tau=10 threshold mostly
    val exceed = (0 until 20).count { i =>
      val a = ImageKit.phash64(ImageKit.encode(ImageKit.genPixels(i, 0, w, h), w, h, "png"))
      val b = ImageKit.phash64(ImageKit.encode(ImageKit.genPixels(i, 1, w, h), w, h, "png"))
      ImageKit.hamming64(a, b) > 10
    }
    assert(exceed >= 16, s"only $exceed/20 revisions exceeded tau")
    // totality
    assert(ImageKit.phash64(Array.emptyByteArray) == 0L)
    assert(ImageKit.phash64(Array[Byte](1, 2, 3)) == 0L)
  }
}

class Bloom64Spec extends AnyFunSuite {

  test("no false negatives; measured FPR <= 2x configured") {
    val n = 20000
    val fpp = 0.01
    val m = Bloom64.optimalNumBits(n, fpp)
    val words = new Array[Long]((m + 63) / 64)
    val k = Bloom64.optimalNumHash(n, words.length.toLong * 64)
    val items = (0 until n).map(i => ImageKit.mix64(i.toLong))
    items.foreach(Bloom64.put(words, k, _))
    assert(items.forall(Bloom64.mightContain(words, k, _)), "false negative!")
    val probes = (n until n + 50000).map(i => ImageKit.mix64(i.toLong))
    val fp = probes.count(Bloom64.mightContain(words, k, _))
    val rate = fp.toDouble / probes.size
    assert(rate <= 2 * fpp, s"FPR $rate > ${2 * fpp}")
  }

  test("serialize/deserialize/merge roundtrip") {
    val a = new BloomAgg(1000, 0.01)
    val bufA = a.reduce(a.zero, 1L)
    val bufB = a.reduce(a.zero, 2L)
    val merged = a.finish(a.merge(bufA, bufB))
    val (k, words) = Bloom64.deserialize(merged)
    assert(Bloom64.mightContain(words, k, 1L) && Bloom64.mightContain(words, k, 2L))
  }
}

class RobotsKitSpec extends AnyFunSuite {
  import graft.model.RobotsRule

  test("render -> parse round-trips every generated host's rules + delay") {
    graft.sources.Gen.robotsLocal().foreach { r =>
      val parsed = RobotsKit.parse(
        RobotsKit.render(r.rules, Some(r.crawl_delay_ms)))
      assert(parsed.rules == r.rules, s"rules diverged for ${r.host}")
      assert(parsed.crawlDelayMs.contains(r.crawl_delay_ms), s"delay diverged for ${r.host}")
    }
  }

  test("group selection: most specific agent token wins; * is the fallback") {
    val txt =
      """# global
        |User-agent: *
        |Disallow: /private
        |Crawl-delay: 2
        |
        |User-agent: graftbot
        |Disallow: /graft-only
        |Allow: /graft-only/open
        |Crawl-delay: 0.5
        |""".stripMargin
    val specific = RobotsKit.parse(txt, agent = "graftbot/1.0")
    assert(specific.rules == Seq(
      RobotsRule(allow = false, "/graft-only"), RobotsRule(allow = true, "/graft-only/open")))
    assert(specific.crawlDelayMs.contains(500L))
    val other = RobotsKit.parse(txt, agent = "otherbot")
    assert(other.rules == Seq(RobotsRule(allow = false, "/private")))
    assert(other.crawlDelayMs.contains(2000L))
  }

  test("comments, blank lines, empty Disallow, wildcards, garbage") {
    val txt =
      """User-agent: * # everyone
        |Disallow:          # empty = allow all, no rule
        |Disallow: /a/*.gif # wildcard -> outside prefix language, dropped
        |Disallow: /exact$  # anchor -> dropped
        |Allow: /ok
        |Not-a-directive
        |Sitemap: http://x/sitemap.xml
        |""".stripMargin
    val p = RobotsKit.parse(txt)
    assert(p.rules == Seq(RobotsRule(allow = true, "/ok")))
    assert(p.crawlDelayMs.isEmpty)
    assert(p.nDroppedRules == 2, "wildcard + anchor drops must be counted, not silent")
    assert(RobotsKit.parse("").rules.isEmpty)
    assert(RobotsKit.parse(":::garbage:::").rules.isEmpty)
  }

  test("agent matching is product-token prefix, not substring; empty UA never matches") {
    val txt =
      """User-agent: bot
        |Disallow: /bot-only
        |
        |User-agent:
        |Disallow: /empty-agent-trap
        |
        |User-agent: *
        |Disallow: /generic
        |""".stripMargin
    // 'bot' is a substring but NOT a prefix of 'graftbot' -> * group applies
    assert(RobotsKit.parse(txt, "graftbot").rules == Seq(RobotsRule(allow = false, "/generic")))
    // prefix of the product token does match ('bot' prefix of 'bot/2.1')
    assert(RobotsKit.parse(txt, "bot/2.1").rules == Seq(RobotsRule(allow = false, "/bot-only")))
  }

  test("all groups naming the selected agent merge (RFC 9309 group combination)") {
    val txt =
      """User-agent: graftbot
        |Disallow: /a
        |
        |User-agent: graftbot
        |Disallow: /b
        |Crawl-delay: 1
        |""".stripMargin
    val p = RobotsKit.parse(txt, "graftbot")
    assert(p.rules == Seq(RobotsRule(allow = false, "/a"), RobotsRule(allow = false, "/b")))
    assert(p.crawlDelayMs.contains(1000L))
  }

  test("multiple user-agent lines share one group; new UA after directives starts a group") {
    val txt =
      """User-agent: alpha
        |User-agent: beta
        |Disallow: /shared
        |
        |User-agent: gamma
        |Disallow: /other
        |""".stripMargin
    assert(RobotsKit.parse(txt, "beta").rules == Seq(RobotsRule(allow = false, "/shared")))
    assert(RobotsKit.parse(txt, "alpha").rules == Seq(RobotsRule(allow = false, "/shared")))
    assert(RobotsKit.parse(txt, "gamma").rules == Seq(RobotsRule(allow = false, "/other")))
    assert(RobotsKit.parse(txt, "delta").rules.isEmpty) // no * group
  }
}

class TextKitSpec extends AnyFunSuite {
  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"

  test("simhash: near for small edits, sensitive to different text") {
    val a = TextKit.simhash64(base)
    val b = TextKit.simhash64(base + " extra tail")
    assert(java.lang.Long.bitCount(a ^ b) <= 16)
    val c = TextKit.simhash64("completely unrelated words about spark catalyst optimizers and shuffles everywhere")
    assert(java.lang.Long.bitCount(a ^ c) > 16)
  }

  test("minhash bands collide for near-dups") {
    val sigA = TextKit.minhashSig(base, 64)
    val sigB = TextKit.minhashSig(base + " appended revision marker tokens", 64)
    val shared = TextKit.bandKeys(sigA, 16).toSet
      .intersect(TextKit.bandKeys(sigB, 16).toSet)
    assert(shared.nonEmpty, "near-dup pair shares no LSH band")
    assert(TextKit.jaccardShingles(base, base) == 1.0)
    assert(TextKit.jaccardShingles(base, base + " x y z") > 0.7)
  }

  test("rolling fingerprint: deterministic, edit-robust away from the minimum") {
    val fp = TextKit.rollingFingerprint(base)
    assert(fp == TextKit.rollingFingerprint(base))
    assert(fp != 0L)
    // a local edit usually leaves the minimal window untouched — require it
    // for at least one of a few suffix edits (probabilistic robustness)
    val robust = Seq(" x", " yz", "!").count(sfx =>
      TextKit.rollingFingerprint(base + sfx) == fp)
    assert(robust >= 1, "no suffix edit preserved the fingerprint")
    // different text -> different fingerprint
    assert(TextKit.rollingFingerprint("completely different content here ok") != fp)
    assert(TextKit.rollingFingerprint("") == 0L)
    assert(TextKit.rollingFingerprint("tiny") == TextKit.hashString("tiny"))
  }

  test("BPE-ish token count: plausible subword granularity") {
    assert(TextKit.bpeTokenCount("") == 0)
    assert(TextKit.bpeTokenCount("hello") == 1)
    assert(TextKit.bpeTokenCount("hello world") == 2) // " world" glues its space
    assert(TextKit.bpeTokenCount("it's") == 2)        // "it" + "'s"
    assert(TextKit.bpeTokenCount("a1b2") == 4)        // letter/digit runs split
    val n = TextKit.bpeTokenCount(base)
    val words = base.split(" ").length
    assert(n >= words, "BPE-ish count must be >= word count")
  }

  test("langId + quality heuristics behave") {
    assert(TextKit.langId("the cat and the dog is in the house that was for it") == "en")
    assert(TextKit.langId("der hund und die katze ist nicht auf der couch zu") == "de")
    assert(TextKit.langId("") == "und")
    assert(TextKit.qualityScore(base) > TextKit.qualityScore("@@@@ #### $$$$"))
    assert(TextKit.qualityScore("") == 0.0)
  }
}

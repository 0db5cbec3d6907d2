package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Property-based fuzzing of the extraction kernel (SURVEY.md par 5.2):
  * totality, determinism, span invariants, and streaming/iterator parser
  * equivalence over adversarial tag soup — inputs the corpus generators
  * would never produce.
  */
class FuzzSpec extends AnyFunSuite {

  /** Run a ScalaCheck property (500 cases) and fail the suite on the
    * first counterexample (bare scalacheck; no scalatestplus bridge in
    * the offline cache).
    */
  private def check(prop: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = SCTest.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private val tagNames = Gen.oneOf("p", "div", "a", "script", "style", "b",
    "article", "nav", "li", "ul", "td", "tr", "span", "h1", "br", "img",
    "textarea", "noscript", "x-custom", "q1")

  private val fragment: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.oneOf(" ", "\t", "\n", "  "),
    Gen.oneOf("&amp;", "&lt;", "&nbsp;", "&#65;", "&#x42;", "&bogus;", "&", ";", "&#xZZ;"),
    Gen.oneOf("<", ">", "</", "/>", "<!", "<!--", "-->", "<![CDATA[", "]]>", "<?", "?>"),
    tagNames.map(t => s"<$t>"),
    tagNames.map(t => s"</$t>"),
    tagNames.map(t => s"<$t class='x' data-k=\"v\">"),
    tagNames.map(t => s"<$t/>"),
    Gen.oneOf("<p attr=unquoted>", "<div =junk>", "<a href='un closed>", "<b q=\"no-close>"),
    Gen.oneOf("éß€", "中文", "é", "﻿"),
  )

  private val soup: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, fragment).map(_.mkString))

  // --- inputs aimed at the streaming builder's own machinery: tag names
  // resolved against the interned table (mixed case, unknown look-alikes
  // that share a length or first/last letter with known names), role
  // bits on misnested and unclosed containers, a stack deeper than its
  // initial capacity, and the non-ASCII whitespace the canonicalizer
  // collapses, literal and as an entity.

  private val mixedCaseTags = Gen.oneOf("DIV", "Div", "A", "Li", "LI", "P", "NAV", "Nav",
    "ARTICLE", "Article", "BR", "Br", "SCRIPT", "Style", "TEXTAREA", "NoScript", "H1", "TD",
    "MAIN", "Header", "FOOTER", "Img", "SPAN", "Aside", "FORM", "Figure", "BUTTON")

  private val lookAlikeTags = Gen.oneOf("dav", "aa", "x-nav", "bx", "dv", "ab", "ax", "na",
    "navs", "nav2", "a1", "h7", "h0", "hh", "li2", "ll", "pp", "p-", "br_", "d:iv",
    "articles", "mains", "mian", "scripts", "scrip", "styles", "tt", "tdd", "body1", "Ä",
    "pblockquote", "Pfigcaption", "xxblockquote")

  private val spaceFragment = Gen.oneOf("\u00a0", "\u3000", "\u2028", "&nbsp;",
    " \u00a0 ", "x\u3000y", "\u2028z\u2028", "a&nbsp;&nbsp;b", "&nbsp;\u00a0", "\u00a0w\u00a0")

  /** Where the one rule set decides the tag boundaries: an unquoted value
    * that ends in '/' before '>', a '/' followed by '=' and a quote inside
    * an unquoted value, markup inside a title, and a title never closed.
    */
  private val ruleFragment = Gen.oneOf("<script src=a.js/>", "<div class=x/>",
    "<a href=/x=\"a>b\">", "<title>a <b>c</title>", "<title>")

  private val builderFragment: Gen[String] = Gen.oneOf(
    fragment,
    ruleFragment,
    mixedCaseTags.map(t => s"<$t>"),
    mixedCaseTags.map(t => s"</$t>"),
    mixedCaseTags.map(t => s"<$t/>"),
    lookAlikeTags.map(t => s"<$t>"),
    lookAlikeTags.map(t => s"</$t>"),
    Gen.oneOf("<a href='x'>", "</a>", "<nav>", "</nav>", "<article>", "</article>",
      "<a><nav>", "</a></nav>", "<article><a>", "</article></a>", "<nav><article>"),
    spaceFragment,
  )

  /** Soup inside 100–300 open elements, some of them closed out of order. */
  private val builderSoup: Gen[String] = for {
    depth <- Gen.chooseNum(0, 300)
    opens <- Gen.listOfN(depth, Gen.oneOf("div", "a", "nav", "article", "span", "DIV", "x-nav", "li", "b"))
    n <- Gen.chooseNum(0, 60)
    body <- Gen.listOfN(n, builderFragment)
    closes <- Gen.chooseNum(0, depth)
  } yield opens.map(t => s"<$t>").mkString + body.mkString + opens.take(closes).map(t => s"</$t>").mkString

  test("extraction is total and deterministic on arbitrary tag soup") {
    check(Prop.forAll(soup) { s =>
      val bytes = s.getBytes("UTF-8")
      val a = HtmlExtractor.extract(bytes, Html.Deadline.unlimited)
      val b = HtmlExtractor.extract(bytes, Html.Deadline.unlimited)
      a == b
    })
  }

  test("streaming parser == iterator tokenizer on arbitrary tag soup") {
    check(Prop.forAll(soup) { s =>
      val viaIterator = ReferenceKernel.build(ReferenceKernel.tokenize(s))
      val viaStream = BlockBuilder.buildStreaming(s, Html.Deadline.unlimited)
      viaIterator == viaStream
    })
  }

  /** Parse events as reference tokens: entities decoded, runs that decode
    * to nothing dropped, exactly as the reference tokenizer emits them.
    */
  private def events(s: String): Vector[ReferenceKernel.Tok] = {
    val out = Vector.newBuilder[ReferenceKernel.Tok]
    Html.parse(s, new Html.Sink {
      def startTag(name: String, selfClosing: Boolean): Unit = out += ReferenceKernel.StartTag(name, selfClosing)
      def endTag(name: String): Unit = out += ReferenceKernel.EndTag(name)
      def text(s: String, from: Int, to: Int): Unit = {
        val sb = new java.lang.StringBuilder
        Html.appendDecoded(sb, s, from, to)
        if (sb.length > 0) out += ReferenceKernel.Text(sb.toString)
      }
    })
    out.result()
  }

  test("parse events == reference tokens, with names resolved to the table's lowercase strings") {
    check(Prop.forAll(builderSoup) { s =>
      val got = events(s)
      (got == ReferenceKernel.tokenize(s).toVector) :| "event stream" &&
        got.forall {
          case ReferenceKernel.StartTag(n, _) => n == n.toLowerCase(java.util.Locale.ROOT)
          case ReferenceKernel.EndTag(n) => n == n.toLowerCase(java.util.Locale.ROOT)
          case _ => true
        } :| "names lowercase"
    })
  }

  test("streaming builder == reference on mixed-case, look-alike, deep, misnested and NBSP soup") {
    check(Prop.forAll(builderSoup) { s =>
      val want = ReferenceKernel.build(ReferenceKernel.tokenize(s))
      val got = BlockBuilder.buildStreaming(s, Html.Deadline.unlimited)
      (got.map(_.text) == want.map(_.text)) :| "text" &&
        (got.map(_.tagPath) == want.map(_.tagPath)) :| "tagPath" &&
        (got.map(_.words) == want.map(_.words)) :| "words" &&
        (got.map(_.linkWords) == want.map(_.linkWords)) :| "linkWords" &&
        (got.map(b => (b.inBoiler, b.inContent)) == want.map(b => (b.inBoiler, b.inContent))) :| "scopes" &&
        (got == want) :| "blocks"
    })
  }

  test("span invariants: within bounds, blocks non-overlapping, page covers text") {
    check(Prop.forAll(soup) { s =>
      val r = HtmlExtractor.extract(s.getBytes("UTF-8"), Html.Deadline.unlimited)
      val inBounds = r.spans.forall(sp => sp.begin >= 0 && sp.begin <= sp.end && sp.end <= r.text.length)
      val blocks = r.spans.filter(_.kind == "block").sortBy(_.begin)
      val nonOverlap = blocks.zip(blocks.drop(1)).forall { case (x, y) => x.end <= y.begin }
      val page = r.spans.find(_.kind == "page")
      inBounds && nonOverlap && page.exists(p => p.begin == 0 && p.end == r.text.length)
    })
  }

  test("canonical text has no whitespace runs and no leading/trailing space per block") {
    check(Prop.forAll(soup) { s =>
      val r = HtmlExtractor.extract(s.getBytes("UTF-8"), Html.Deadline.unlimited)
      val noRuns = !r.text.contains("  ") && !r.text.contains(" \n") && !r.text.contains("\n ")
      val blockLines = if (r.text.isEmpty) Array.empty[String] else r.text.split("\n", -1)
      noRuns && blockLines.forall(l => l == l.trim)
    })
  }

  test("decode is total on arbitrary byte arrays (magic sniff + charset)") {
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bs =>
      val bytes = bs.toArray
      ContentType.detect(bytes) // must not throw
      Html.decode(bytes)        // must not throw
      true
    })
  }

  /** Byte arrays that are mostly ASCII HTML with UTF-8 sequences mixed in:
    * the two-byte Latin-1 range the decoder's fast path takes, wider
    * sequences and malformed ones it must hand to the JDK decoder, and
    * marks and meta charsets that pick another decoder altogether.
    */
  private val pageBytes: Gen[Array[Byte]] = {
    val piece = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(20).getBytes("UTF-8")),
      Gen.oneOf("<p>", "</p>", " ", "\n", "&amp;", "<meta charset=utf-8>", "<meta charset=\"iso-8859-1\">",
        "<meta charset=windows-1252>", "<meta charset=bogus>").map(_.getBytes("UTF-8")),
      Gen.oneOf("ü", "Ö", "ß", "\u00a0", "\u0080", "\u00ff", "«»", "©·").map(_.getBytes("UTF-8")),
      Gen.oneOf("–", "€", "中文", "\ufeff", "\ud83d\ude00", "\u0100").map(_.getBytes("UTF-8")),
      Gen.listOfN(3, Gen.oneOf(0xc2, 0xc3, 0xc0, 0xc1, 0x80, 0xbf, 0xe2, 0xf0, 0xff, 0xfe, 0xef, 0xbb, 0x41))
        .map(_.map(_.toByte).toArray),
    )
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, piece)).map(_.flatten.toArray)
  }

  /** Pages the decoder's fast path accepts (ASCII and two-byte Latin-1
    * UTF-8), with at most one byte sequence at its edge spliced in:
    * overlong and truncated two-byte forms, stray continuations, wider
    * and invalid sequences.
    */
  private val latin1Page: Gen[Array[Byte]] = {
    val ok = Gen.oneOf(Gen.alphaNumStr.map(_.take(30)), Gen.oneOf(" <p>", "</p>\n", "ü", "Öß", "\u0080", "\u00ff", "«x»"))
    val probe = Gen.oneOf(Seq(0xc0, 0x80), Seq(0xc1, 0xbf), Seq(0xc2), Seq(0xc3), Seq(0xc2, 0x41), Seq(0xc3, 0xc3, 0xa4),
      Seq(0x80), Seq(0xbf), Seq(0xff), Seq(0xe2, 0x80, 0x93), Seq(0xed, 0xa0, 0x80), Seq(0xf4, 0x90, 0x80, 0x80),
      Seq(0xc2, 0x80), Seq(0xc3, 0xbf), Seq.empty[Int])
    for {
      n <- Gen.chooseNum(0, 30)
      pieces <- Gen.listOfN(n, ok)
      p <- probe
      at <- Gen.chooseNum(0, n)
    } yield {
      val (a, b) = pieces.splitAt(at)
      a.mkString.getBytes("UTF-8") ++ p.map(_.toByte) ++ b.mkString.getBytes("UTF-8")
    }
  }

  test("decode == one full JDK decode + leading U+FEFF strip, on pages and arbitrary bytes") {
    def jdkDecode(bytes: Array[Byte]): String = {
      val out = new String(bytes, Html.detectCharset(bytes))
      if (out.nonEmpty && out.charAt(0) == '\ufeff') out.substring(1) else out
    }
    val arbitrary = Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    check(Prop.forAll(Gen.oneOf(latin1Page, pageBytes, arbitrary)) { bytes => Html.decode(bytes) == jdkDecode(bytes) })
  }

  // --- URL resolver (core/Urls.scala) ---

  private val hrefGen: Gen[String] = {
    val seg = Gen.oneOf("a", "b9", "..", ".", "index.html", "x%20y", "déjà", "", " ")
    val path = Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n, seg).map(_.mkString("/")))
    Gen.oneOf(
      path,
      path.map("/" + _),
      path.map("./" + _),
      path.map("../" + _),
      path.map(p => s"https://Host.EX:443/$p"),
      path.map(p => s"http://h.ex:8080/$p?q=1&r=2"),
      path.map(p => s"//cdn.ex/$p"),
      path.map(p => s"$p#frag"),
      path.map(p => s"$p?x=%26"),
      Gen.oneOf("mailto:a@b.c", "javascript:void(0)", "data:text/plain,x",
        "tel:+123", "ftp://h/p", "#", "", "?", "https://", "http://:80/x",
        ":", "a:b", "HTTPS://UP.CASE/P#F"),
      Gen.listOf(Gen.chooseNum(32.toChar, 255.toChar)).map(_.mkString.take(24)),
    )
  }

  test("url resolve: total, idempotent, and always canonical absolute http(s)") {
    val baseGen = Gen.oneOf(
      "https://ex.com/a/b/c?q0", "http://ex.com/", "https://h9.ex.com/doc/7",
      "https://ex.com", "http://ex.com:8080/d/")
    check(Prop.forAll(baseGen, hrefGen) { (base, href) =>
      Urls.resolve(base, href) match { // must not throw
        case None => true
        case Some(u) =>
          // canonical: absolute http(s), lowercase scheme+host, no
          // fragment, no default port, non-empty path
          val abs = u.startsWith("http://") || u.startsWith("https://")
          val noFrag = !u.contains('#')
          val hostEnd = u.indexOf('/', u.indexOf("//") + 2)
          val authority = u.substring(u.indexOf("//") + 2, if (hostEnd < 0) u.length else hostEnd)
          val hostLower = authority.takeWhile(_ != ':') == authority.takeWhile(_ != ':').toLowerCase
          val noDefaultPort = !(u.startsWith("http://") && authority.endsWith(":80")) &&
            !(u.startsWith("https://") && authority.endsWith(":443"))
          val hasPath = hostEnd >= 0 // render always emits at least "/"
          // a canonical URL must resolve to ITSELF against any base
          val idem = Urls.resolve(base, u) == Some(u)
          abs && noFrag && hostLower && noDefaultPort && hasPath && idem
      }
    })
  }

  test("min_k_longs buffer algebra: any partitioning + merge order + serde == sorted take(k)") {
    // drives the aggregate's update/merge/serialize/eval functions
    // directly (no Spark job per case): values split into arbitrary
    // "partitions", each folded into its own buffer, buffers round-trip
    // through serialization, then merge in the generated order — the
    // result must equal the k smallest of the multiset, ascending,
    // regardless of how the work was split
    val child = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.LongType, nullable = true)
    def mk(k: Int) = graft.functions.MinKLongs(child, k)
    val genVals = Gen.listOf(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue))
    val genK = Gen.chooseNum(1, 12)
    val genCuts = Gen.listOf(Gen.chooseNum(0, 64))
    check(Prop.forAll(genVals, genK, genCuts) { (vals, k, cuts) =>
      val a = mk(k)
      // split vals into partitions at pseudo-random cut points
      val parts = if (vals.isEmpty) Seq(Seq.empty[Long]) else {
        val n = (cuts.map(_ % vals.length).toSet + 0 + vals.length).toSeq.sorted
        n.zip(n.tail).map { case (b, e) => vals.slice(b, e) }
      }
      val buffers = parts.map { p =>
        val buf = p.foldLeft(a.createAggregationBuffer()) { (b, v) =>
          a.update(b, org.apache.spark.sql.catalyst.InternalRow(v)) // production path
        }
        a.deserialize(a.serialize(buf)) // serde round-trip per partition
      }
      val merged = buffers.reduce(a.merge)
      val got = a.eval(merged)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .toLongArray().toSeq
      got == vals.sorted.take(k)
    })
  }

  // --- attribute scanners (Links/Directives/Meta/Tables/Outline) ---
  // The extraction kernel is fuzzed above; these are the ATTRIBUTE
  // scanners (the one family that materializes attr values), which the
  // r3 imagesOf bug (phantom `</img>` images) showed need the same
  // adversarial-soup treatment: totality + determinism, no phantom
  // emission (every emitted record is witnessed by a literal tag
  // occurrence), and rawtext discipline (script/style/textarea content
  // is never markup).

  private val attrFragment: Gen[String] = Gen.oneOf(
    fragment,
    ruleFragment,
    Gen.oneOf("<a href='x'>", "<a href=\"/y z\">lnk</a>", "<a href=un>", "<a>",
      "</a>", "<A HREF='UP'>", "<a href='' rel=nofollow>", "<a href='#f'"),
    Gen.oneOf("<img src='i.png'>", "<img src=j alt='k'>", "<img alt=only>",
      "</img>", "<IMG SRC=c/>", "<img", "<imgx src=no>"),
    Gen.oneOf("<link rel=canonical href='/c'>", "<link rel='alternate' hreflang=de href=/de>",
      "<meta name=robots content='noindex, nofollow'>", "<meta property='og:title' content='t'>",
      "<meta http-equiv=refresh content='5;url=/r'>", "<time datetime='2026-01-02'>"),
    Gen.oneOf("<title>", "</title>", "<h1>", "</h1>", "<h2 id=s>", "</h2>",
      "<h6>", "</h6>", "<h7>", "<table>", "</table>", "<tr>", "</tr>",
      "<td>", "</td>", "<th scope=row>", "</th>", "<caption>"),
    Gen.oneOf("<script>", "</script>", "<script type='application/ld+json'>",
      "<style>", "</style>", "<textarea>", "</textarea>"))

  private val attrSoup: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, attrFragment).map(_.mkString))

  private def countOcc(s: String, sub: String): Int = {
    var c = 0; var i = s.indexOf(sub)
    while (i >= 0) { c += 1; i = s.indexOf(sub, i + 1) }
    c
  }

  test("attribute scanners: total and deterministic on arbitrary attr soup") {
    check(Prop.forAll(attrSoup) { s =>
      val dl = Html.Deadline.unlimited
      Links.outlinksOf(s, dl) == Links.outlinksOf(s, dl) &&
        Links.imagesOf(s, dl) == Links.imagesOf(s, dl) &&
        Directives.scan(s, dl) == Directives.scan(s, dl) &&
        Meta.scan(s, dl) == Meta.scan(s, dl) &&
        Tables.extract(s, dl) == Tables.extract(s, dl) &&
        Outline.extract(s, dl) == Outline.extract(s, dl)
    })
  }

  test("attribute scanners: no phantom emission — every record is witnessed by a literal tag") {
    check(Prop.forAll(attrSoup) { s =>
      val dl = Html.Deadline.unlimited
      val lower = s.toLowerCase(java.util.Locale.ROOT)
      val links = Links.outlinksOf(s, dl)
      val imgs = Links.imagesOf(s, dl)
      val d = Directives.scan(s, dl)
      val m = Meta.scan(s, dl)
      val cells = Tables.extract(s, dl)
      val secs = Outline.extract(s, dl)
      // each emission consumes one real start tag ("<a"/"<img"/... is a
      // prefix of every such tag, so emitted <= occurrences)
      (links.length <= countOcc(lower, "<a")) :| "links exceed <a occurrences" &&
        (imgs.length <= countOcc(lower, "<img")) :| "imgs exceed <img occurrences" &&
        (links.isEmpty || lower.contains("<a")) :| "phantom link" &&
        (imgs.isEmpty || lower.contains("<img")) :| "phantom img" &&
        ((d.canonical == null) || lower.contains("<link")) :| "phantom canonical" &&
        ((d.robots == null) || lower.contains("<meta")) :| "phantom robots" &&
        (d.jsonld.isEmpty || lower.contains("<script")) :| "phantom jsonld" &&
        (m.title.isEmpty || lower.contains("<title")) :| "phantom title" &&
        (m.h1.isEmpty || lower.contains("<h1")) :| "phantom h1" &&
        (cells.isEmpty || lower.contains("<table")) :| "cells without <table" &&
        // a heading-less doc legally emits ONE level-0 preamble section;
        // any level>0 section must be witnessed by a real heading tag
        (secs.forall(_.level == 0) || (1 to 6).exists(l => lower.contains(s"<h$l"))) :| "leveled section without heading" &&
        (secs.count(_.level == 0) <= 1) :| "multiple preambles"
    })
  }

  test("attribute scanners: rawtext discipline — script/style/textarea content is never markup") {
    check(Prop.forAll(attrSoup, Gen.oneOf("script", "style", "textarea")) { (s, tag) =>
      // arbitrary soup sealed inside ONE rawtext element (its own closer
      // stripped so the element really spans the whole document)
      val inner = s.replaceAll("(?i)</" + tag, "")
      val doc = s"<$tag>$inner</$tag>"
      val dl = Html.Deadline.unlimited
      val d = Directives.scan(doc, dl)
      val m = Meta.scan(doc, dl)
      Links.outlinksOf(doc, dl).isEmpty :| "link from rawtext" &&
        Links.imagesOf(doc, dl).isEmpty :| "img from rawtext" &&
        Tables.extract(doc, dl).isEmpty :| "cell from rawtext" &&
        Outline.extract(doc, dl).isEmpty :| "section from rawtext" &&
        (m.title.isEmpty && m.h1.isEmpty) :| "meta from rawtext" &&
        (d.canonical == null && d.robots == null && d.refresh == null &&
          d.alternates.isEmpty && d.og.isEmpty) :| "directive from rawtext"
    })
  }
}

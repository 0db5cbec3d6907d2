package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Links

class LinksSpec extends AnyFunSuite {

  private def links(html: String): Vector[(String, String)] =
    Links.outlinksOf(html).map(l => (l.href, l.anchor))

  test("outlinks: order, entities, implicit nesting close, hrefless, rawtext, unquoted") {
    val html =
      """<!DOCTYPE html><html><head>
        |<script>var x = '<a href="/fake">nope</a>';</script>
        |<style>a::after { content: "</a>"; }</style>
        |</head><body>
        |<a href="/one">First &amp; best</a>
        |<a name="x">not a link</a>
        |<a href='/two'>outer <a href="/three">inner</a> tail
        |<a href=/four>unquoted</a>
        |<!-- <a href="/comment">no</a> -->
        |<a href="/five">spaced   text
        |   lines</a>
        |<a href="/q?a=1&amp;b=2">esc</a>
        |<a href="/lt">1 < 2</a>
        |<a href="/six"/>
        |</body></html>""".stripMargin
    assert(links(html) == Vector(
      "/one" -> "First & best",
      "/two" -> "outer", // implicitly closed by the nested <a>
      "/three" -> "inner",
      "/four" -> "unquoted",
      "/five" -> "spaced text lines",
      "/q?a=1&b=2" -> "esc",
      "/lt" -> "1 < 2",
      "/six" -> "", // self-closing anchor: link with no text
    ))
  }

  test("outlinks: EOF closes an open anchor; empty href skipped") {
    assert(links("""<a href="/open">dangling""") == Vector("/open" -> "dangling"))
    assert(links("""<a href="">x</a><a href="/y">y</a>""") == Vector("/y" -> "y"))
  }

  test("resolve: RFC 3986 reference resolution against an http(s) base") {
    import graft.core.Urls.resolve
    val b = "https://ex.com/a/b/c?q0"
    assert(resolve(b, "d") == Some("https://ex.com/a/b/d"))
    assert(resolve(b, "./d") == Some("https://ex.com/a/b/d"))
    assert(resolve(b, "../d") == Some("https://ex.com/a/d"))
    assert(resolve(b, "../../../d") == Some("https://ex.com/d")) // over-pop clamps
    assert(resolve(b, "/d/e") == Some("https://ex.com/d/e"))
    assert(resolve(b, "") == Some("https://ex.com/a/b/c?q0")) // empty ref keeps query
    assert(resolve(b, "#frag") == Some("https://ex.com/a/b/c?q0")) // fragment dropped
    assert(resolve(b, "?x=1") == Some("https://ex.com/a/b/c?x=1"))
    assert(resolve(b, "d?x=2") == Some("https://ex.com/a/b/d?x=2"))
    assert(resolve(b, "//other.com/p") == Some("https://other.com/p"))
    assert(resolve("http://ex.com/", "//other.com/p") == Some("http://other.com/p"))
  }

  test("resolve: canonical form and non-crawlable schemes") {
    import graft.core.Urls.resolve
    val b = "https://ex.com/"
    assert(resolve(b, "HTTP://H.Com:80/P") == Some("http://h.com/P")) // case + default port
    assert(resolve(b, "https://h.com:8443/p") == Some("https://h.com:8443/p"))
    assert(resolve(b, "https://h.com") == Some("https://h.com/")) // empty path -> /
    assert(resolve(b, "https://h.com/a/./x/../c#z") == Some("https://h.com/a/c"))
    assert(resolve(b, "mailto:x@y.z").isEmpty)
    assert(resolve(b, "javascript:void(0)").isEmpty)
    assert(resolve(b, "data:text/plain,hi").isEmpty)
    assert(resolve("notaurl", "/x").isEmpty) // unparsable base
    // empty base path: relative merges onto "/"
    assert(resolve("https://ex.com", "d") == Some("https://ex.com/d"))
    // out-of-range ports are invalid authorities, never a crash and
    // never treated as part of the host
    assert(resolve(b, "http://h.com:99999999999/x").isEmpty)
    assert(resolve(b, "http://h.com:70000/x").isEmpty)
    assert(resolve(b, "http://h.com:65535/x") == Some("http://h.com:65535/x"))
    assert(resolve("https://ex.com:99999999999/a", "d").isEmpty) // bad base too
  }

  test("raw-text close tags match case-insensitively in every scanner") {
    import java.nio.charset.StandardCharsets.UTF_8
    val html = "<script>var t='<title>no</title><a href=\"/no\">x</a>'</SCRIPT>" +
      "<title>ok</title><h1>H</h1><a href=\"/yes\">y</a>"
    val m = graft.core.Meta.scan(html)
    assert(m.title == "ok" && m.h1 == "H")
    assert(links(html) == Vector("/yes" -> "y"))
    // the extraction tokenizer skips the same span (script text never leaks)
    val r = graft.core.HtmlExtractor.extract(html.getBytes(UTF_8),
      graft.core.Html.Deadline.unlimited)
    assert(!r.text.contains("no") && !r.text.contains("var t"))
  }

  test("one tokenizer: outlinks, images, meta, directives and the text kernel split a malformed page alike") {
    import graft.core.{BlockBuilder, Directives, Html, Meta}
    // each piece splits differently under a looser rule: a quote inside an
    // unquoted value (`x=a"b`, `alt=a"b`), a '/' ending an unquoted value
    // (`src=a.js/` would self-close the script and expose its anchor),
    // markup inside a title read as tags
    val html = """<h1 x=a"b>T</h1><script src=a.js/><a href="/hidden">no</a></script>""" +
      """<a href=/x/>L</a><img src=/i.png alt=a"b><link rel=canonical href=/c/>""" +
      """<title>a <b>c</b></title><p>body</p>"""
    assert(Meta.scan(html) == Meta.DocMeta("a <b>c</b>", "T"))
    assert(links(html) == Vector("/x/" -> "L"))
    assert(Links.imagesOf(html) == Vector(Links.Img("/i.png", "a\"b", hasAlt = true)))
    assert(Directives.scan(html).canonical == "/c/")
    assert(BlockBuilder.buildStreaming(html, Html.Deadline.unlimited).map(_.text) ==
      Vector("T", "L a <b>c</b>", "body"))
  }

  test("meta: title RCDATA, h1 text runs, first-wins, implicit close") {
    import graft.core.Meta
    def m(s: String) = { val r = Meta.scan(s); (r.title, r.h1) }
    // RCDATA: tags inside <title> are literal text; entities decode
    assert(m("<title>a &amp; <b> c</title><h1>H</h1>") == (("a & <b> c", "H")))
    // first title and first h1 win
    assert(m("<title>one</title><title>two</title><h1>x</h1><h1>y</h1>") == (("one", "x")))
    // nested inline markup inside h1 contributes text runs only
    assert(m("""<h1><a href="/">M&uuml;ller &laquo;W&raquo;</a> #7</h1>""") == (("", "Müller «W» #7")))
    // a new <h1> implicitly closes an open one; EOF closes tolerantly
    assert(m("<h1>first<h1>second") == (("", "first")))
    // script/style bodies and comments never leak into either field
    assert(m("<script>var t='<title>no</title>'</script><!-- <h1>no</h1> --><title>ok</title>") ==
      (("ok", "")))
    // missing fields resolve to empty strings
    assert(m("<p>plain</p>") == (("", "")))
  }

  test("meta: generator families yield template titles and h1") {
    import java.nio.charset.StandardCharsets.UTF_8
    def of(b: Array[Byte]) = graft.core.Meta.scan(new String(b, UTF_8))
    val a = of(graft.gen.HtmlGen.render(42L, "one two three", "en"))
    assert(a.title == "Synthetic document 42" && a.h1 == "Müller & Söhne «Webkorpus» #42")
    val b = of(graft.gen.HtmlGen.renderB(5L, "one two three", "en"))
    assert(b.title == "Feed 5" && b.h1 == "")
    val c = of(graft.gen.HtmlGen.renderC(11L, "one two three", "en"))
    assert(c.title == "Notes 11" && c.h1 == "")
  }

  test("outlinks: generator family A pages yield the formula links in order") {
    val html = new String(
      graft.gen.HtmlGen.render(42L, "one two three", "en"),
      java.nio.charset.StandardCharsets.UTF_8)
    val got = links(html)
    val catN = (0 until 5).map(i => (42 + i) % 13)
    val relN = (0 until 4).map(i => (42 * 7 + i) % 31)
    assert(got == Vector("/" -> "Müller & Söhne «Webkorpus» #42") ++
      catN.map(k => s"/cat/$k" -> s"Category $k") ++
      Vector("/privacy" -> "Learn more") ++
      relN.map(k => s"/rel/$k" -> s"Related post $k …") ++
      Vector("/imprint" -> "Impressum"))
  }

  test("directives: token-list rel, first-wins, none alias, comment/rawtext immunity, decoys") {
    import graft.core.Directives
    val d1 = Directives.scan(
      """<html><head>
        |<script>var s = '<link rel="canonical" href="https://js.example.com">';</script>
        |<!-- <meta name="robots" content="noindex"> -->
        |<link rel="stylesheet" href="/s.css">
        |<link rel="alternate CANONICAL" href="https://real.example.com/page">
        |<link rel="canonical" href="https://second.example.com/ignored">
        |<META NAME="Robots" CONTENT=" NOFOLLOW , x ">
        |</head><body></body></html>""".stripMargin)
    assert(d1.canonical == "https://real.example.com/page") // token list + first wins
    assert(d1.robots == " NOFOLLOW , x ") // raw value preserved
    assert(!d1.noindex && d1.nofollow) // tokens trimmed + case-folded
    val d2 = Directives.scan("<meta name=robots content=none>")
    assert(d2.noindex && d2.nofollow) // 'none' expands to both
    val d3 = Directives.scan("<link rel=canonical><link rel=canonical href=/ok>")
    assert(d3.canonical == "/ok") // hrefless directive is not a directive
    val d4 = Directives.scan("<p>charset talk about rel=canonical in text</p>")
    assert(d4.canonical == null && d4.robots == null && !d4.noindex && !d4.nofollow)
    val d5 = Directives.scan("""<link rel="canonical" href="/a&amp;b"/>""")
    assert(d5.canonical == "/a&b") // self-closing + entity decode
  }

  test("directives: hreflang alternates in order, token-list rel, no-hreflang skipped") {
    import graft.core.Directives
    val d = Directives.scan(
      """<link rel="alternate" hreflang="EN-us" href="/en">
        |<link rel="stylesheet alternate" hreflang="de" href="/de">
        |<link rel="alternate" href="/feed.xml" type="application/rss+xml">
        |<link rel="canonical" href="/c">
        |<link rel="alternate" hreflang="fr" href="/fr">""".stripMargin)
    assert(d.alternates == Vector("en-us" -> "/en", "de" -> "/de", "fr" -> "/fr"))
    assert(d.canonical == "/c")
  }

  test("jsonld: media-type token match, decoys, document order, early </script> cut, self-closing") {
    import graft.core.Directives
    val d = Directives.scan(
      """<html><head>
        |<script>var fake = '{"@type":"Fake"}';</script>
        |<!-- <script type="application/ld+json">{"@type":"Ghost"}</script> -->
        |<script type="application/ld+json">  {"@type":"Article","name":"first"}  </script>
        |<SCRIPT TYPE="APPLICATION/LD+JSON; charset=utf-8">{"@type":"Product"}</SCRIPT>
        |<script type="text/javascript">{"@type":"Code"}</script>
        |<script type="application/ld+json"/>
        |<script type="application/ld+json">{"a":"b</ScRiPt>c"}</script>
        |</head><body></body></html>""".stripMargin)
    // typeless, commented-out and javascript-typed scripts are NOT
    // data; the param+case type matches; blocks come back trimmed in
    // document order; the raw-text rule cuts block 3 at the first
    // case-insensitive "</script" EVEN INSIDE a JSON string (the HTML
    // spec's rule, not a bug); the self-closing script has no body
    assert(d.jsonld == Vector(
      """{"@type":"Article","name":"first"}""",
      """{"@type":"Product"}""",
      """{"a":"b"""))
  }

  test("meta refresh: digits mandatory, both separators, url= case/quotes, reload, http-equiv gate") {
    import graft.core.Directives
    assert(Directives.metaRefresh("0; url=https://a/b") == ((Some(0L), Some("https://a/b"))))
    assert(Directives.metaRefresh("5,URL='/n'") == ((Some(5L), Some("/n"))))
    assert(Directives.metaRefresh(" 30 ") == ((Some(30L), None)))
    assert(Directives.metaRefresh("7; URL = \" /q \"") == ((Some(7L), Some("/q"))))
    assert(Directives.metaRefresh("soon; url=/x") == ((None, None))) // no digits: whole directive invalid
    assert(Directives.metaRefresh("5 url=/x") == ((None, None)))    // missing separator
    assert(Directives.metaRefresh("3; /bare") == ((Some(3L), Some("/bare")))) // url keyword optional
    assert(Directives.metaRefresh("3;") == ((Some(3L), None)))
    assert(Directives.metaRefresh(null) == ((None, None)))
    val d = Directives.scan(
      """<head><meta name="refresh" content="0; url=/wrong">
        |<META HTTP-EQUIV="Refresh" CONTENT="2; url=/right">
        |<meta http-equiv="refresh" content="9; url=/second"></head>""".stripMargin)
    assert(d.refresh == "2; url=/right") // http-equiv required, first wins
  }

  test("og harvest: property gate, case-folded keys, first-wins, non-core keys ignored") {
    import graft.core.Directives
    val d = Directives.scan(
      """<head><meta name="og:title" content="wrong-attr">
        |<META PROPERTY="OG:Title" CONTENT="real title">
        |<meta property="og:title" content="second — ignored">
        |<meta property="og:image" content="/a.png">
        |<meta property="og:locale" content="en_US">
        |<!-- <meta property="og:description" content="ghost"> --></head>""".stripMargin)
    assert(d.og == Map("og:title" -> "real title", "og:image" -> "/a.png"))
  }

  test("sitemaps: kinds, CDATA/entity locs, loc-less skip, case-insensitive tags, prolog noise") {
    import graft.core.Sitemaps
    val u = Sitemaps.parse(
      """<?xml version="1.0" encoding="UTF-8"?>
        |<!-- generated -->
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url><loc> https://a.example.com/1 </loc><lastmod>2026-03-01</lastmod></url>
        |<url><lastmod>2026-03-02</lastmod></url>
        |<URL><LOC><![CDATA[https://a.example.com/2?x=1&y=2]]></LOC></URL>
        |<url><loc>https://a.example.com/3?a=1&amp;b=2</loc></url>
        |</urlset>""".stripMargin)
    assert(u.kind == "urlset")
    assert(u.entries.map(e => (e.idx, e.loc, e.lastmod)) == Vector(
      (0, "https://a.example.com/1", "2026-03-01"),
      (1, "https://a.example.com/2?x=1&y=2", null), // CDATA raw
      (2, "https://a.example.com/3?a=1&b=2", null))) // entity decoded
    val ix = Sitemaps.parse("<sitemapindex><sitemap><loc>https://b.example.com/s.xml</loc></sitemap></sitemapindex>")
    assert(ix.kind == "sitemapindex" && ix.entries.map(_.loc) == Vector("https://b.example.com/s.xml"))
    assert(Sitemaps.parse("<html><body>no</body></html>").kind == "invalid")
    assert(Sitemaps.parse("").kind == "invalid")
    assert(Sitemaps.parse("<urlset></urlset>") == Sitemaps.Sitemap("urlset", Vector.empty))
  }

  test("pub dates: meta > time > url precedence, invalid fallthrough, comment/datetime-less decoys") {
    import graft.core.Directives
    def pd(h: String, u: String) = Directives.pubDate(Directives.scan(h), u)
    // full precedence: meta beats time beats url
    assert(pd("<meta property=\"article:published_time\" content=\"2026-01-05T08:30:00Z\">" +
      "<time datetime=\"2026-02-01\">x</time>", "https://a.example.com/2026/03/01/p") ==
      ("2026-01-05", "meta"))
    // garbage meta falls through to time; datetime-less <time> is skipped
    assert(pd("<meta property=\"article:published_time\" content=\"soon\">" +
      "<time>undated</time><time datetime=\"2026-02-11\">x</time>", "https://a.example.com/p") ==
      ("2026-02-11", "time"))
    // url fallback, then none; commented-out meta is not a directive
    assert(pd("<p>x</p>", "https://a.example.com/2026/03/09/post") == ("2026-03-09", "url"))
    assert(pd("<!-- <meta property=\"article:published_time\" content=\"2020-01-01\"> -->",
      "https://a.example.com/about") == (null, "none"))
    // case-insensitive property, single quotes, date-only content
    assert(pd("<meta property='ARTICLE:PUBLISHED_TIME' content='2026-05-03'>", "u") ==
      ("2026-05-03", "meta"))
    // first meta wins; short/garbage time falls to url
    assert(pd("<meta property=\"article:published_time\" content=\"2026-06-01\">" +
      "<meta property=\"article:published_time\" content=\"2025-01-01\">", "u") ==
      ("2026-06-01", "meta"))
    assert(pd("<time datetime=\"2026\">x</time>", "https://a.example.com/2026/07/02/x") ==
      ("2026-07-02", "url"))
  }

  test("feeds: rss vs atom link dialects, rel=self skip, CDATA/entity, linkless skip, case-insensitive, invalid") {
    import graft.core.Feeds
    val r = Feeds.parse(
      """<?xml version="1.0"?><!-- gen -->
        |<rss version="2.0"><channel><title>Chan</title><link>https://c.example.com/</link>
        |<item><title>Post &amp; notes</title><link> https://c.example.com/a?x=1&amp;y=2 </link>
        |<pubDate>Mon, 01 Jan 2026 00:00:00 GMT</pubDate></item>
        |<item><title><![CDATA[Raw <b> title]]></title><link>https://c.example.com/b</link></item>
        |<item><title>linkless</title></item>
        |</channel></rss>""".stripMargin)
    assert(r.kind == "rss")
    assert(r.entries.map(e => (e.idx, e.title, e.link, e.stamp)) == Vector(
      (0, "Post & notes", "https://c.example.com/a?x=1&y=2", "Mon, 01 Jan 2026 00:00:00 GMT"),
      (1, "Raw <b> title", "https://c.example.com/b", null)))
    // channel-level title/link never become an entry
    assert(!r.entries.exists(_.link == "https://c.example.com/"))
    val a = Feeds.parse(
      """<feed xmlns="http://www.w3.org/2005/Atom"><title>A</title>
        |<entry><title>E0</title><link rel="self" href="https://a.example.com/self"/>
        |<link rel="alternate" href="https://a.example.com/e0"/>
        |<updated>2026-03-01T00:00:00Z</updated></entry>
        |<entry><title>E1</title><link href="https://a.example.com/e1?a=1&amp;b=2"/></entry>
        |<entry><title>self only</title><link rel="self" href="https://a.example.com/s"/></entry>
        |</feed>""".stripMargin)
    assert(a.kind == "atom")
    assert(a.entries.map(e => (e.idx, e.title, e.link, e.stamp)) == Vector(
      (0, "E0", "https://a.example.com/e0", "2026-03-01T00:00:00Z"),
      (1, "E1", "https://a.example.com/e1?a=1&b=2", null)))
    // case-insensitive tags, single-quoted attrs, rel defaulting to alternate
    val up = Feeds.parse("<RSS><CHANNEL><ITEM><TITLE>T</TITLE><LINK>https://u.example.com/x</LINK></ITEM></CHANNEL></RSS>")
    assert(up.kind == "rss" && up.entries.map(_.link) == Vector("https://u.example.com/x"))
    val sq = Feeds.parse("<feed><entry><link rel='ALTERNATE' href='https://q.example.com/'/></entry></feed>")
    assert(sq.entries.map(_.link) == Vector("https://q.example.com/"))
    assert(Feeds.parse("<html><body>no</body></html>").kind == "invalid")
    assert(Feeds.parse("").kind == "invalid")
    assert(Feeds.parse("<feed><title>empty</title></feed>") == Feeds.Feed("atom", Vector.empty))
    // unclosed entry at EOF still yields what it saw (error as data)
    val eof = Feeds.parse("<feed><entry><link href=\"https://e.example.com/1\"/>")
    assert(eof.entries.map(_.link) == Vector("https://e.example.com/1"))
  }

  test("directives totality: junk and truncated-directive inputs scan without throwing") {
    import graft.core.Directives
    val rnd = new scala.util.Random(4242)
    (0 until 300).foreach { i =>
      val junk = (0 until rnd.nextInt(200)).map(_ => (rnd.nextInt(96) + 32).toChar).mkString
      val biased = (i % 8) match {
        case 0 => "<script type=\"application/ld+json\">" + junk        // unclosed block
        case 1 => "<meta http-equiv=refresh content=\"" + junk          // unclosed attr
        case 2 => "<link rel=canonical href=" + junk
        case 3 => "<meta property=\"og:title\" content='" + junk        // unclosed quote
        case 4 => "<!-- " + junk                                        // unclosed comment
        case 5 => "<script" + junk                                      // cut mid-tag
        case 6 => junk
        case _ => "<time datetime=\"" + junk + "<meta property=og:type content"
      }
      val d = Directives.scan(biased) // must not throw
      // and the refresh parser is total over whatever was captured
      Directives.metaRefresh(d.refresh)
      Directives.pubDate(d, "https://x.example.com/" + i)
    }
  }

  test("feeds totality: junk and adversarial inputs parse without throwing") {
    import graft.core.Feeds
    val rnd = new scala.util.Random(42)
    (0 until 300).foreach { i =>
      val junk = (0 until rnd.nextInt(200)).map(_ => (rnd.nextInt(96) + 32).toChar).mkString
      val biased = (i % 5) match {
        case 0 => "<rss><item>" + junk
        case 1 => "<feed><entry><link " + junk + "/></entry></feed>"
        case 2 => "<rss><channel><item><link>" + junk + "</item></channel></rss>"
        case 3 => junk
        case _ => "<feed><entry>" + junk + "</entry>"
      }
      val f = Feeds.parse(biased) // must not throw
      assert(f.kind == "rss" || f.kind == "atom" || f.kind == "invalid")
    }
  }

  test("robots: grammar, UA stacking, longest-prefix selection, group merge, globals, crawl-delay") {
    import graft.core.Robots
    val body =
      "Disallow: /orphan/\n" + // rule before any group: dropped
        "User-agent: *\nDisallow: /private/\n" +
        "User-Agent: alpha\nUser-agent: GraftBot\n" + // stacked UAs, one group
        "DISALLOW: /c/ # comment\nallow: /c/deep\n" +
        "Crawl-delay: nope\nCrawl-delay: 4\nCrawl-delay: 9\n" + // first NUMERIC wins
        "Noindex: zz\nDisallow:\n" + // unknown key + empty disallow: no rules
        "Sitemap: https://x.example.com/a.xml\r\n" + // global, CRLF
        "User-agent: graftbot\nDisallow: /z/\n" + // same token: merges in order
        "User-agent: graft\nDisallow: /shorter/\n" // shorter prefix: loses
    val p = Robots.parse(body, "GRAFTBOT")
    assert(p.rules == Vector(Robots.Rule(0, "/c/", false),
      Robots.Rule(1, "/c/deep", true), Robots.Rule(2, "/z/", false)))
    assert(p.crawlDelay.contains(4L))
    assert(p.sitemaps == Vector("https://x.example.com/a.xml"))
    // an agent matching nothing specific falls back to the * group
    val q = Robots.parse(body, "unknownbot")
    assert(q.rules == Vector(Robots.Rule(0, "/private/", false)))
    // a global record between a group's UA line and its rules does not
    // break the group
    val g = Robots.parse(
      "User-agent: bot\nSitemap: https://g/s.xml\nAllow: /kept/", "bot")
    assert(g.rules == Vector(Robots.Rule(0, "/kept/", true)) &&
      g.sitemaps == Vector("https://g/s.xml"))
    // no match and no * group: zero rules, sitemaps still surface
    val r = Robots.parse(
      "User-agent: other\nDisallow: /x/\nSitemap: https://s/m.xml", "graftbot")
    assert(r.rules.isEmpty && r.crawlDelay.isEmpty &&
      r.sitemaps == Vector("https://s/m.xml"))
    // totality: colonless lines, empty UA values, comments-only, empty
    assert(Robots.parse(
      "::::\n# only a comment\n\nAllow /nocolon\nUser-agent:\nDisallow: /u/",
      "g").rules.isEmpty)
    assert(Robots.parse("", "g") == Robots.Policy(Vector.empty, None, Vector.empty))
  }

  test("images: absent vs empty alt, rawtext decoy, case/quote forms, entities, first-wins") {
    import Links.Img
    def imgs(h: String) = Links.imagesOf(h)
    // absent alt != empty alt: the decorative marker must survive
    assert(imgs("""<img src="/a.jpg">""") == Vector(Img("/a.jpg", "", false)))
    assert(imgs("""<img src="/a.jpg" alt="">""") == Vector(Img("/a.jpg", "", true)))
    // uppercase tag/attrs, unquoted values, self-closing void form
    assert(imgs("""<IMG SRC=/u/1 ALT=banner />""") == Vector(Img("/u/1", "banner", true)))
    // an <img inside a script string is RAWTEXT, not an image
    assert(imgs("""<script>var x = '<img src=/fake.png>';</script><img src=/real.png alt=ok>""") ==
      Vector(Img("/real.png", "ok", true)))
    // entity decode + single quotes + first-wins on duplicate alt
    assert(imgs("""<img src='/e.png' alt='Tom &amp; Jerry' alt='second'>""") ==
      Vector(Img("/e.png", "Tom & Jerry", true)))
    // img with no src still counts (a broken tag is still an img)
    assert(imgs("""<img alt="x">""") == Vector(Img("", "x", true)))
    // comments and CDATA skipped whole; boolean attrs tolerated
    assert(imgs("""<!-- <img src=/c.png> --><img src="/d.png" ismap alt="m">""") ==
      Vector(Img("/d.png", "m", true)))
    // totality on junk
    assert(imgs("<< < <img <img src=") .forall(_.src == ""))
  }

  test("images: stray closers and self-closing rawtext openers (real-web armor)") {
    import Links.Img
    def imgs(h: String) = Links.imagesOf(h)
    // </img> is a no-op closer, not a phantom Img: exactly one image
    assert(imgs("""<img src=/x.png></img>""") == Vector(Img("/x.png", "", false)))
    // a stray </script> with no opener must not swallow subsequent images
    assert(imgs("""</script><img src=/after.png alt=a>""") ==
      Vector(Img("/after.png", "a", true)))
    assert(imgs("""<img src=/one.png></style><img src=/two.png>""") ==
      Vector(Img("/one.png", "", false), Img("/two.png", "", false)))
    // a SELF-CLOSING <script/> has no rawtext body — the next tag is live
    assert(imgs("""<script src="/s.js"/><img src=/live.png>""") ==
      Vector(Img("/live.png", "", false)))
    // but a real opener still swallows its body to the matching closer
    assert(imgs("""<script>'<img src=/fake.png>'</script><img src=/real.png>""") ==
      Vector(Img("/real.png", "", false)))
    // closer-at-EOF totality: `</img` with no '>' terminates cleanly
    assert(imgs("""<img src=/z.png></img""") == Vector(Img("/z.png", "", false)))
  }
}

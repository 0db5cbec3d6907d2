package graft.core

/** In-page crawl-directive scanner: the first `<link rel=canonical>`
  * href and the first `<meta name=robots>` content of a page — the two
  * in-band signals every crawl pipeline honors before a page enters the
  * corpus: rel=canonical is the SITE's own statement of which URL
  * variant is authoritative (the in-band counterpart of e32's
  * syntactic URL canonicalization — when both exist, canonical wins,
  * because only the site knows that `?page=2` is a different page while
  * `?sort=asc` is not), and robots noindex/nofollow gate indexing and
  * link-graph expansion. Reference analog: the service validates
  * per-request processing directives before running an engine
  * (`/root/reference/src/services/ocr/registry_v2.py:427-471`); a crawl
  * corpus reads the same kind of directive from the page itself.
  *
  * A sink on [[Html.parse]] that asks for the attributes of `link`,
  * `meta`, `time` and `script` only, so it sees exactly the markup the
  * text kernel sees: comments, CDATA, doctype and PIs are consumed
  * silently (a commented-out directive is NOT a directive — pinned);
  * script/style/textarea/noscript bodies never leak (a directive string
  * inside JavaScript is data, not markup); `<` that opens no tag is
  * literal text. The first valued occurrence of each attribute wins.
  * `rel` is an HTML5 space-separated TOKEN LIST (`rel="alternate canonical"`
  * matches), matched ASCII-case-insensitively; robots content parses as
  * comma-separated tokens with the `none` alias expanding to
  * noindex + nofollow. First occurrence wins for both directives
  * (browsers honor the first canonical; for robots, real engines union
  * repeated tags — first-wins is the documented simplification).
  */
object Directives {

  final case class PageDirectives(canonical: String, robots: String,
      noindex: Boolean, nofollow: Boolean,
      alternates: Vector[(String, String)] = Vector.empty,
      published: String = null, timeDatetime: String = null,
      jsonld: Vector[String] = Vector.empty,
      refresh: String = null,
      og: Map[String, String] = Map.empty)
  // og: first-wins values for the OpenGraph core keys (og:title,
  // og:description, og:type, og:image) from <meta property=...>
  // content — the share-card metadata layer, and the cheapest title/
  // description signal when a page's <title> is template chrome.
  // Property names match ASCII-case-insensitively (stored lowercase);
  // non-core og:* keys are ignored (bounded state by design).
  // refresh: first <meta http-equiv=refresh> content attribute, raw —
  // the in-band redirect channel (sites without server access redirect
  // through it; a crawler that ignores it keeps fetching stub pages).
  // Parsing is [[metaRefresh]]'s job, first-wins like every directive.
  // jsonld: raw bodies of <script type="application/ld+json"> blocks in
  // document order, trimmed — the schema.org structured-data channel.
  // The type attribute matches on its MEDIA TYPE token (parameters
  // after ';' ignored, ASCII-case-insensitive — real pages ship
  // "application/ld+json; charset=utf-8" and "APPLICATION/LD+JSON");
  // a type-less or javascript-typed script is code, not data. Bodies
  // are raw text per the HTML script rules (nothing inside opens a
  // tag; the block ends at the first case-insensitive "</script"),
  // and a commented-out block is NOT data (comment immunity shared
  // with every directive). JSON parsing is deliberately NOT done here
  // — the scanner extracts, Catalyst's from_json parses (malformed
  // JSON is the consumer's error-as-data, not a scan failure).
  // alternates: (hreflang, href) pairs from link[rel~=alternate][hreflang]
  // in document order, duplicates preserved (cluster reconciliation —
  // e.g. conflicting hreflang maps across a cluster — is the consumer's
  // job, not the scanner's)
  // published: first <meta property="article:published_time"> content
  // (the OpenGraph/article publish stamp); timeDatetime: the first
  // <time datetime=...> value (a <time> without the attribute is NOT a
  // date source — skipped). Raw strings; validation is [[pubDate]]'s job.

  /** Publication-date resolution — the temporal-filtering signal a
    * training corpus wants next to every document (date-range curation,
    * freshness weighting, contamination windows). Precedence: the page's
    * explicit article:published_time meta, then the first `<time
    * datetime>`, then a /YYYY/MM/DD/ segment in the URL path; a source
    * whose value fails the lexical YYYY-MM-DD prefix check FALLS THROUGH
    * to the next (a garbage meta must not mask a good `<time>`).
    * Returns (date, source) with date the 10-char day prefix and source
    * one of meta/time/url/none. Lexical validation only — calendar
    * plausibility (month 13) is a downstream quality rule, documented.
    */
  def pubDate(d: PageDirectives, url: String): (String, String) = {
    def valid(s: String) =
      s != null && s.length >= 10 &&
        (0 until 10).forall { k =>
          val c = s.charAt(k)
          if (k == 4 || k == 7) c == '-' else c >= '0' && c <= '9'
        }
    if (valid(d.published)) (d.published.substring(0, 10), "meta")
    else if (valid(d.timeDatetime)) (d.timeDatetime.substring(0, 10), "time")
    else {
      val m = UrlDate.findFirstMatchIn(url)
      if (m.isDefined) {
        val g = m.get
        (g.group(1) + "-" + g.group(2) + "-" + g.group(3), "url")
      } else (null, "none")
    }
  }

  private val UrlDate = "/(\\d{4})/(\\d{2})/(\\d{2})/".r

  /** Parse a meta-refresh content value per the WHATWG grammar's
    * practical core: leading whitespace, a mandatory digit run (the
    * delay — NO digits means the whole directive is invalid and is
    * ignored, the spec rule that makes "soon; url=/x" a no-op), then
    * optionally a ';' or ',' separator (both legal, both shipped by
    * real pages), optional "url" keyword (case-insensitive) with '=',
    * and a target that may be wrapped in matching single or double
    * quotes. A digits-only value is a timed RELOAD: delay set, url
    * None. Returns (delay, url).
    */
  def metaRefresh(content: String): (Option[Long], Option[String]) = {
    if (content == null) return (None, None)
    val s = content.trim
    var i = 0
    while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
    if (i == 0) return (None, None)
    val delay = s.substring(0, i).toLong
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    if (i >= s.length) return (Some(delay), None)
    if (s.charAt(i) != ';' && s.charAt(i) != ',') return (None, None)
    i += 1
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    if (s.regionMatches(true, i, "url", 0, 3)) {
      i += 3
      while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
      if (i < s.length && s.charAt(i) == '=') i += 1
      while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    }
    var t = s.substring(i).trim
    if (t.length >= 2 && (t.charAt(0) == '"' || t.charAt(0) == '\'') &&
      t.charAt(t.length - 1) == t.charAt(0))
      t = t.substring(1, t.length - 1).trim
    if (t.isEmpty) (Some(delay), None) else (Some(delay), Some(t))
  }

  def directives(html: Array[Byte],
      deadline: Html.Deadline = Html.Deadline.unlimited): PageDirectives =
    scan(Html.decode(html), deadline)

  def scan(s: String,
      deadline: Html.Deadline = Html.Deadline.unlimited): PageDirectives = {
    var canonical: String = null
    var robots: String = null
    var published: String = null
    var timeDt: String = null
    var refresh: String = null
    val og = scala.collection.mutable.HashMap.empty[String, String]
    val alternates = Vector.newBuilder[(String, String)]
    val jsonld = Vector.newBuilder[String]
    // the scanned tag's attributes, first valued occurrence of each
    val attrs = scala.collection.mutable.HashMap.empty[String, String]
    var ldJson = false // the scanned tag opens a JSON-LD script body

    def relHas(rel: String, token: String): Boolean =
      rel.split("[ \t\n\r\f]+").exists(_.equalsIgnoreCase(token))

    Html.parse(s, new Html.Sink {
      override def wantsAttributes(name: String): Boolean =
        name == "link" || name == "meta" || name == "time" || name == "script"
      override def attribute(name: String, s: String, from: Int, to: Int): Unit =
        if (from >= 0 && !attrs.contains(name)) attrs(name) = Html.attributeValue(s, from, to)
      def startTag(name: String, selfClosing: Boolean): Unit = {
        if (name == "link") {
          val rel = attrs.getOrElse("rel", "")
          val href = attrs.getOrElse("href", "")
          if (canonical == null && relHas(rel, "canonical") && href.nonEmpty)
            canonical = href
          val hl = attrs.getOrElse("hreflang", "")
          if (relHas(rel, "alternate") && hl.nonEmpty && href.nonEmpty)
            alternates += ((hl.toLowerCase(java.util.Locale.ROOT), href))
        } else if (name == "meta") {
          if (robots == null && attrs.get("name").exists(_.equalsIgnoreCase("robots")))
            robots = attrs.getOrElse("content", "")
          if (published == null &&
            attrs.get("property").exists(_.equalsIgnoreCase("article:published_time")))
            published = attrs.getOrElse("content", "")
          if (refresh == null && attrs.get("http-equiv").exists(_.equalsIgnoreCase("refresh")))
            refresh = attrs.getOrElse("content", "")
          attrs.get("property").foreach { pr =>
            val k = pr.toLowerCase(java.util.Locale.ROOT)
            if ((k == "og:title" || k == "og:description" ||
              k == "og:type" || k == "og:image") && !og.contains(k))
              og(k) = attrs.getOrElse("content", "")
          }
        } else if (name == "time") {
          if (timeDt == null && attrs.get("datetime").exists(_.nonEmpty))
            timeDt = attrs("datetime")
        }
        ldJson = name == "script" && attrs.get("type").exists(t =>
          t.split(";")(0).trim.equalsIgnoreCase("application/ld+json"))
        attrs.clear()
      }
      def endTag(name: String): Unit = ()
      def text(s: String, from: Int, to: Int): Unit = ()
      override def rawText(s: String, from: Int, to: Int): Unit =
        if (ldJson) jsonld += s.substring(from, to).trim
    }, deadline)

    val toks: Set[String] =
      if (robots == null) Set.empty
      else robots.split(",").map(_.trim.toLowerCase(java.util.Locale.ROOT)).toSet
    val none = toks.contains("none")
    PageDirectives(canonical, robots,
      none || toks.contains("noindex"), none || toks.contains("nofollow"),
      alternates.result(), published, timeDt, jsonld.result(), refresh,
      og.toMap)
  }
}

package graft.core

/** RSS 2.0 / Atom (RFC 4287) feed parser — the PUSH side of crawl
  * discovery, beside the pull side ([[Sitemaps]]): sites announce new
  * content in feeds long before the link graph or a sitemap refresh
  * surfaces it, so a freshness-sensitive crawler tails feeds for the
  * fastest new-URL signal. Handles both dialects where they genuinely
  * differ:
  *
  *   - RSS: entries are `<item>` blocks inside `<channel>`; the link is
  *     ELEMENT TEXT (`<link>url</link>`); the timestamp is `<pubDate>`.
  *   - Atom: entries are `<entry>` blocks; the link is an ATTRIBUTE
  *     (`<link href="url"/>`), and an entry may carry several — the
  *     content link is the first with no `rel` or `rel="alternate"`,
  *     never `rel="self"`/`rel="edit"` (RFC 4287 §4.2.7.2 defaults
  *     `rel` to "alternate" when absent); the timestamp is `<updated>`.
  *
  * Rules shared with [[Sitemaps]] (one walk, [[XmlEntries]]): an entry without a link is
  * skipped, not an error (the crawl use-case needs the URL); missing
  * title/timestamp stay null; element text may be CDATA-wrapped (taken
  * raw) or entity-escaped (decoded), as are attribute values; XML decl,
  * comments and doctype before the root are consumed silently; tag
  * matching is case-insensitive. A root that is neither `<rss>` nor
  * `<feed>` is `invalid` — error as data, the e3 taxonomy.
  *
  * Channel/feed-level `<title>`/`<link>` live OUTSIDE entry blocks and
  * are never mistaken for entry fields (the parser only reads inside
  * `<item>`/`<entry>`).
  */
object Feeds {

  final case class Entry(idx: Int, title: String, link: String, stamp: String)
  final case class Feed(kind: String, entries: Vector[Entry])

  def parse(s: String): Feed = {
    val kind = XmlEntries.rootName(s) match {
      case "rss" => "rss"
      case "feed" => "atom"
      case _ => "invalid"
    }
    if (kind == "invalid") Feed("invalid", Vector.empty)
    else {
      val stampTag = if (kind == "rss") "pubdate" else "updated"
      val entries = XmlEntries.blocks(s, if (kind == "rss") "item" else "entry")
        .map(block => (block, if (kind == "rss") XmlEntries.inner(block, "link") else atomLink(block)))
        .filter { case (_, link) => link != null && link.nonEmpty }
        .zipWithIndex.map { case ((block, link), idx) =>
          Entry(idx, XmlEntries.inner(block, "title"), link, XmlEntries.inner(block, stampTag))
        }
      Feed(kind, entries)
    }
  }

  /** First `<link .../>` in the block whose `rel` is absent or
    * "alternate" (case-insensitive); returns its entity-decoded `href`,
    * or null when no qualifying link exists.
    */
  private def atomLink(block: String): String = {
    val n = block.length
    var p = 0
    var found: String = null
    while (found == null && p < n) {
      val lt = Html.indexOfIgnoreCase(block, "<link", p)
      if (lt < 0) p = n
      else {
        val after = lt + 5
        // must be a real <link> tag boundary, not <linkfoo>
        val boundary = after >= n || {
          val ch = block.charAt(after)
          ch == ' ' || ch == '\t' || ch == '\n' || ch == '\r' || ch == '>' || ch == '/'
        }
        if (!boundary) p = after
        else {
          var href: String = null
          var rel: String = null
          var j = after
          var inTag = true
          while (inTag && j < n) {
            val ch = block.charAt(j)
            if (ch == '>') inTag = false
            else if (ch == '/' && j + 1 < n && block.charAt(j + 1) == '>') { inTag = false; j += 1 }
            else if (Character.isLetter(ch)) {
              var k = j
              while (k < n && (Character.isLetterOrDigit(block.charAt(k)) ||
                block.charAt(k) == '-' || block.charAt(k) == ':')) k += 1
              val name = block.substring(j, k).toLowerCase(java.util.Locale.ROOT)
              var m = k
              while (m < n && Character.isWhitespace(block.charAt(m))) m += 1
              if (m < n && block.charAt(m) == '=') {
                m += 1
                while (m < n && Character.isWhitespace(block.charAt(m))) m += 1
                if (m < n && (block.charAt(m) == '"' || block.charAt(m) == '\'')) {
                  val q = block.charAt(m)
                  val close = block.indexOf(q, m + 1)
                  val v = if (close < 0) block.substring(m + 1) else block.substring(m + 1, close)
                  if (name == "href") href = Html.decodeEntities(v)
                  if (name == "rel") rel = v.toLowerCase(java.util.Locale.ROOT)
                  j = if (close < 0) n else close
                } else j = m - 1
              } else j = k - 1
            }
            j += 1
          }
          if (href != null && href.nonEmpty && (rel == null || rel == "alternate"))
            found = href
          p = j
        }
      }
    }
    found
  }
}

package graft.core

/** Sitemaps-protocol parser (sitemaps.org) — the crawl-discovery channel
  * beside the link graph (e22/e26) and redirects (e34): sites publish
  * the URLs they WANT crawled, with optional freshness metadata, and a
  * frontier that ignores sitemaps misses exactly the deep/unlinked pages
  * the site bothered to list. Handles both document kinds: `<urlset>`
  * (leaf URL entries) and `<sitemapindex>` (pointers to child sitemaps —
  * the 50k-entry/50MB protocol caps force big sites into index trees, so
  * a crawler must recurse through this kind). Per entry: `<loc>`
  * (required — an entry without it is skipped, not an error) and
  * `<lastmod>` (optional, the recrawl-scheduling signal consumed by
  * e30-style deltas). `<loc>` text may be CDATA-wrapped (taken raw) or
  * entity-escaped (decoded) per the XML rules the protocol inherits.
  * Anything whose root element is neither kind is `invalid` — error as
  * data, the e3 taxonomy. XML decl, comments and doctype before the
  * root are consumed silently; tag matching is case-insensitive
  * (the spec says lowercase; real sitemaps disagree). The walk is
  * [[XmlEntries]], shared with [[Feeds]].
  */
object Sitemaps {

  final case class Entry(idx: Int, loc: String, lastmod: String)
  final case class Sitemap(kind: String, entries: Vector[Entry])

  def parse(s: String): Sitemap = {
    val kind = XmlEntries.rootName(s) match {
      case "urlset" => "urlset"
      case "sitemapindex" => "sitemapindex"
      case _ => "invalid"
    }
    if (kind == "invalid") Sitemap("invalid", Vector.empty)
    else {
      val entries = XmlEntries.blocks(s, if (kind == "urlset") "url" else "sitemap")
        .map(block => (block, XmlEntries.inner(block, "loc")))
        .filter { case (_, loc) => loc != null && loc.nonEmpty }
        .zipWithIndex.map { case ((block, loc), idx) => Entry(idx, loc, XmlEntries.inner(block, "lastmod")) }
      Sitemap(kind, entries)
    }
  }
}

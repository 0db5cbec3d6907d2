package graft.core

/** Outlink extraction from raw HTML bytes — the web-graph side of the
  * extraction kernel: every `<a href>` with its canonicalized anchor text,
  * in document order. Feeds host-graph analytics (link-based curation,
  * host ranking) the way the text kernel feeds the corpus.
  *
  * A sink on [[Html.parse]] that asks for the attributes of `<a>` (and,
  * for [[imagesOf]], `<img>`) only, so it sees exactly the markup the text
  * kernel sees.
  *
  * Anchor semantics: text runs between `<a href=...>` and `</a>`
  * (entity-decoded, [[Canonicalizer.block]]-canonicalized); a new `<a>`
  * inside an open anchor implicitly closes it (browser behavior — nested
  * anchors are invalid HTML); `<a>` without href is a named anchor, not a
  * link, and is skipped; EOF closes an open anchor (tolerant). The first
  * `href` with a value wins.
  */
object Links {

  final case class Link(href: String, anchor: String)

  def outlinks(html: Array[Byte], deadline: Html.Deadline = Html.Deadline.unlimited): Vector[Link] =
    outlinksOf(Html.decode(html), deadline)

  def outlinksOf(s: String, deadline: Html.Deadline = Html.Deadline.unlimited): Vector[Link] = {
    val out = Vector.newBuilder[Link]
    val anchor = new java.lang.StringBuilder(64)
    var inA = false
    var href: String = null    // the open anchor's
    var tagHref: String = null // the <a> tag being scanned
    def close(): Unit = {
      if (inA && href != null && href.nonEmpty)
        out += Link(href, Canonicalizer.blockOf(anchor))
      inA = false
      href = null
      anchor.setLength(0)
    }
    Html.parse(s, new Html.Sink {
      override def wantsAttributes(name: String): Boolean = name == "a"
      override def attribute(name: String, s: String, from: Int, to: Int): Unit =
        if (tagHref == null && from >= 0 && name == "href") tagHref = Html.attributeValue(s, from, to)
      def startTag(name: String, selfClosing: Boolean): Unit = if (name == "a") {
        close() // implicit close of any open anchor
        if (!selfClosing) { inA = true; href = tagHref }
        else if (tagHref != null && tagHref.nonEmpty)
          out += Link(tagHref, "") // <a href=... /> has no text
        tagHref = null
      }
      def endTag(name: String): Unit = if (name == "a") close()
      def text(s: String, from: Int, to: Int): Unit = if (inA) Html.appendDecoded(anchor, s, from, to)
    }, deadline)
    close()
    out.result()
  }

  /** One harvested `<img>`: src, the alt VALUE, and whether alt was
    * present at all — `alt=""` (hasAlt, empty) is the spec's
    * decorative-image marker while a MISSING alt is an accessibility
    * defect and a lost caption; the two must stay distinguishable.
    */
  final case class Img(src: String, alt: String, hasAlt: Boolean)

  def images(html: Array[Byte],
      deadline: Html.Deadline = Html.Deadline.unlimited): Vector[Img] =
    imagesOf(Html.decode(html), deadline)

  /** `<img>` harvest — the caption-mining scanner (alt text is the
    * cheapest image-caption pair source on the web), a sink on
    * [[Html.parse]] like [[outlinksOf]]: an `<img` inside a script string
    * is NOT an image (pinned), and an end tag (`</img>`) never is one.
    * Names are ASCII-case-insensitive, entities decoded, first-wins per
    * attribute, and an attribute without a value reads as "". `img` is a
    * void element, so self-closing and plain forms are identical.
    */
  def imagesOf(s: String,
      deadline: Html.Deadline = Html.Deadline.unlimited): Vector[Img] = {
    val out = Vector.newBuilder[Img]
    var src: String = null
    var alt: String = null
    Html.parse(s, new Html.Sink {
      override def wantsAttributes(name: String): Boolean = name == "img"
      override def attribute(name: String, s: String, from: Int, to: Int): Unit =
        if (name == "src") { if (src == null) src = Html.attributeValue(s, from, to) }
        else if (name == "alt" && alt == null) alt = Html.attributeValue(s, from, to)
      def startTag(name: String, selfClosing: Boolean): Unit = if (name == "img") {
        out += Img(if (src == null) "" else src, if (alt == null) "" else alt, alt != null)
        src = null
        alt = null
      }
      def endTag(name: String): Unit = ()
      def text(s: String, from: Int, to: Int): Unit = ()
    }, deadline)
    out.result()
  }
}

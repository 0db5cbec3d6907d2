package graft.core

/** The XML walk that [[Sitemaps]] and [[Feeds]] share: the root element's
  * name past the prolog, the entry blocks, and an entry's element text.
  * Tag matching is ASCII-case-insensitive (the specs say lowercase; real
  * documents disagree).
  */
private[core] object XmlEntries {

  /** The root element's name, lowercased; null when there is none. An XML
    * declaration, PIs, comments and a doctype before it are skipped.
    */
  def rootName(s: String): String = {
    val n = s.length
    var i = 0
    var root: String = null
    while (root == null && i < n) {
      val lt = s.indexOf('<', i)
      if (lt < 0) i = n
      else if (s.startsWith("<?", lt)) {
        val e = s.indexOf("?>", lt); i = if (e < 0) n else e + 2
      } else if (s.startsWith("<!--", lt)) {
        val e = s.indexOf("-->", lt); i = if (e < 0) n else e + 3
      } else if (s.startsWith("<!", lt)) {
        val e = s.indexOf('>', lt); i = if (e < 0) n else e + 1
      } else {
        var j = lt + 1
        while (j < n && (Character.isLetter(s.charAt(j)) || s.charAt(j) == ':')) j += 1
        if (j == lt + 1) i = lt + 1
        else root = s.substring(lt + 1, j).toLowerCase(java.util.Locale.ROOT)
      }
    }
    root
  }

  /** Each bare `<tag>` block of `s` in document order, from its open tag
    * up to (not including) its `</tag>`; an unclosed block runs to EOF.
    */
  def blocks(s: String, tag: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var p = 0
    while (p < s.length) {
      val b0 = Html.indexOfIgnoreCase(s, "<" + tag + ">", p)
      if (b0 < 0) p = s.length
      else {
        val b1 = Html.indexOfIgnoreCase(s, "</" + tag + ">", b0)
        out += s.substring(b0, if (b1 < 0) s.length else b1)
        p = if (b1 < 0) s.length else b1 + tag.length + 3
      }
    }
    out.result()
  }

  /** Element text of the first bare `<t>...</t>` inside `block`, trimmed:
    * CDATA taken raw, entities decoded otherwise; null when there is no
    * such closed element.
    */
  def inner(block: String, t: String): String = {
    val o = Html.indexOfIgnoreCase(block, "<" + t + ">", 0)
    if (o < 0) null
    else {
      val st = o + t.length + 2
      val c = Html.indexOfIgnoreCase(block, "</" + t + ">", st)
      if (c < 0) null
      else {
        val raw = block.substring(st, c).trim
        val v =
          if (raw.startsWith("<![CDATA[") && raw.endsWith("]]>"))
            raw.substring(9, raw.length - 3)
          else Html.decodeEntities(raw)
        v.trim
      }
    }
  }
}

package graft.core

/** Document-metadata scanner: the first `<title>` and first `<h1>` text
  * of a page — the two fields a corpus metadata/index table wants next
  * to the extracted body (titles drive search display, citation and
  * title-based dedup heuristics; the h1 is the de-facto on-page
  * headline). Reference analog: the service returns hOCR whose first
  * page title carries document identity (`src/models/responses.py:60-69`);
  * here the fields are first-class columns.
  *
  * A sink on [[Html.parse]], so it sees exactly the markup the text
  * kernel sees: comments, CDATA, doctype and PIs are consumed silently;
  * script/style/textarea/noscript bodies never leak; a `<` that opens no
  * tag is literal text; nested inline markup inside `<h1>` contributes
  * its text runs only. `<title>` is RCDATA per the HTML spec — nothing
  * inside it opens a tag, everything up to the first `</title` is
  * (entity-decoded) text. Both fields are [[Canonicalizer]]-canonicalized
  * like every other text surface of the kernel. First occurrence wins
  * for both.
  */
object Meta {

  final case class DocMeta(title: String, h1: String)

  def metaOf(html: Array[Byte], deadline: Html.Deadline = Html.Deadline.unlimited): DocMeta =
    scan(Html.decode(html), deadline)

  def scan(s: String, deadline: Html.Deadline = Html.Deadline.unlimited): DocMeta = {
    var title: String = null
    var h1: String = null
    val titleBuf = new java.lang.StringBuilder(64)
    val buf = new java.lang.StringBuilder(64)
    var inTitle = false
    var inH1 = false

    def closeH1(): Unit = {
      if (inH1 && h1 == null) h1 = Canonicalizer.blockOf(buf)
      inH1 = false
      buf.setLength(0)
    }

    Html.parse(s, new Html.Sink {
      def startTag(name: String, selfClosing: Boolean): Unit =
        if (name == "title") inTitle = !selfClosing
        else if (name == "h1") {
          closeH1() // implicit close (browser: headings never nest)
          inH1 = !selfClosing
        }
      def endTag(name: String): Unit =
        if (name == "title") {
          if (inTitle && title == null) title = Canonicalizer.blockOf(titleBuf)
          inTitle = false
        } else if (name == "h1") closeH1()
      def text(s: String, from: Int, to: Int): Unit =
        if (inTitle) { if (title == null) Html.appendDecoded(titleBuf, s, from, to) }
        else if (inH1) Html.appendDecoded(buf, s, from, to)
    }, deadline)
    closeH1() // EOF closes an open h1 (tolerant)
    DocMeta(if (title == null) "" else title, if (h1 == null) "" else h1)
  }
}

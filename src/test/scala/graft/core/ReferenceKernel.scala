package graft.core

import java.util.Locale
import scala.collection.mutable.ArrayBuffer

/** Reference HTML tokenizer and block builder: the straightforward
  * iterator form of the kernel's front half, kept beside the tests as the
  * oracle for the streaming path ([[Html.parse]] +
  * [[BlockBuilder.buildStreaming]]). It allocates freely (a Tok per token,
  * a substring + `toLowerCase` per tag name, a Set lookup per role) and
  * carries its own copy of the element sets, so the equivalence specs
  * check the streaming path's interned names and role bits against an
  * independent statement of the same rules.
  */
object ReferenceKernel {

  sealed trait Tok
  final case class StartTag(name: String, selfClosing: Boolean) extends Tok
  final case class EndTag(name: String) extends Tok
  final case class Text(s: String) extends Tok

  /** Elements that delimit text blocks. */
  val blockTags: Set[String] = Set(
    "p", "div", "article", "section", "main", "aside", "nav", "header",
    "footer", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl",
    "dt", "dd", "td", "th", "tr", "table", "thead", "tbody", "tfoot",
    "blockquote", "pre", "br", "hr", "form", "figure", "figcaption",
    "fieldset", "legend", "address", "details", "summary", "body",
  )

  /** Void elements: never pushed on the stack. */
  val voidTags: Set[String] = Set(
    "br", "hr", "img", "meta", "link", "input", "area", "base", "col",
    "embed", "source", "track", "wbr",
  )

  /** Structural boilerplate containers: their text is never main content. */
  val boilerTags: Set[String] = Set(
    "nav", "header", "footer", "aside", "form", "button", "select",
    "option", "label", "figure", "head", "title",
  )

  /** Explicit content containers. */
  val contentTags: Set[String] = Set("article", "main")

  /** Elements whose content is skipped unparsed. */
  val rawTextTags: Set[String] = Set("script", "style", "textarea", "noscript")

  private def isNameStart(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char) =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':' || c == '_'

  /** Tokenize decoded HTML. Emits StartTag/EndTag/Text; script, style,
    * textarea, noscript, comment, CDATA and doctype content never reach
    * Text; a title's content is one Text (RCDATA); an unquoted attribute
    * value ends at whitespace or '>'. Throws TimeoutException when the
    * deadline expires.
    */
  def tokenize(html: String, deadline: Html.Deadline = Html.Deadline.unlimited): Iterator[Tok] =
    new Iterator[Tok] {
      private val s = html
      private val n = s.length
      private var i = 0
      private val pending = scala.collection.mutable.Queue.empty[Tok]
      advance()

      def hasNext: Boolean = pending.nonEmpty
      def next(): Tok = { val t = pending.dequeue(); if (pending.isEmpty) advance(); t }

      private def skipSpaceIn(j0: Int): Int = {
        var j = j0
        while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
        j
      }

      /** Token produced by the last parseTag call (null = none). */
      private var tagTok: Tok = null

      /** Parse a start/end tag beginning at '<'; sets tagTok, returns the
        * new position. A '<' that opens nothing valid is literal text.
        */
      private def parseTag(lt: Int): Int = {
        tagTok = null
        var j = lt + 1
        if (j >= n) return lt + 1
        val c = s.charAt(j)
        if (c == '!') {
          if (s.startsWith("<!--", lt)) {
            val end = s.indexOf("-->", lt + 4)
            return if (end < 0) n else end + 3
          }
          if (s.regionMatches(true, lt, "<![CDATA[", 0, 9)) {
            val end = s.indexOf("]]>", lt + 9)
            return if (end < 0) n else end + 3
          }
          // doctype or other declaration
          val end = s.indexOf('>', lt + 1)
          return if (end < 0) n else end + 1
        }
        if (c == '?') { // processing instruction
          val end = s.indexOf('>', lt + 1)
          return if (end < 0) n else end + 1
        }
        val closing = c == '/'
        if (closing) j += 1
        if (j >= n || !isNameStart(s.charAt(j))) return lt + 1 // literal '<'
        val nameStart = j
        while (j < n && isNameChar(s.charAt(j))) j += 1
        val name = s.substring(nameStart, j).toLowerCase(Locale.ROOT)
        if (closing) {
          val end = s.indexOf('>', j)
          tagTok = EndTag(name)
          return if (end < 0) n else end + 1
        }
        // attributes: scan past them (quote-aware so a '>' inside a quoted
        // value doesn't end the tag) without materializing anything
        var selfClosing = false
        var done = false
        while (!done) {
          j = skipSpaceIn(j)
          if (j >= n) { done = true }
          else {
            val ch = s.charAt(j)
            if (ch == '>') { j += 1; done = true }
            else if (ch == '/' && j + 1 < n && s.charAt(j + 1) == '>') { selfClosing = true; j += 2; done = true }
            else if (isNameStart(ch)) {
              while (j < n && isNameChar(s.charAt(j))) j += 1
              var k = skipSpaceIn(j)
              if (k < n && s.charAt(k) == '=') {
                k = skipSpaceIn(k + 1)
                if (k < n && (s.charAt(k) == '"' || s.charAt(k) == '\'')) {
                  val q = s.charAt(k)
                  val vend = s.indexOf(q, k + 1)
                  k = if (vend < 0) n else vend + 1
                } else {
                  while (k < n && !Character.isWhitespace(s.charAt(k)) && s.charAt(k) != '>') k += 1
                }
                j = k
              }
            } else j += 1 // junk char inside tag; skip
          }
        }
        tagTok = StartTag(name, selfClosing)
        j
      }

      private def advance(): Unit = {
        while (pending.isEmpty && i < n) {
          if (deadline.expired()) throw new Html.TimeoutException
          val c = s.charAt(i)
          if (c == '<') {
            val next = parseTag(i)
            val tok = tagTok
            if (tok == null && next == i + 1) {
              // a '<' that opens no tag is literal text
              i = next
              pending += Text("<")
            } else {
              i = next
              tok match {
                case st @ StartTag(nm, false) if rawTextTags(nm) || nm == "title" =>
                  // raw-text or RCDATA element: its content runs to the
                  // matching close tag (case-insensitive — browsers close
                  // on </SCRIPT> too); a missing close runs to EOF
                  val close = "</" + nm
                  val k = Html.indexOfIgnoreCase(s, close, i)
                  val end = if (k < 0) n else k
                  pending += st
                  if (nm == "title") {
                    val txt = Html.decodeEntities(s.substring(i, end))
                    if (txt.nonEmpty) pending += Text(txt)
                  }
                  pending += EndTag(nm)
                  if (k < 0) { i = n }
                  else {
                    val gt = s.indexOf('>', k + close.length)
                    i = if (gt < 0) n else gt + 1
                  }
                case null => ()
                case t => pending += t
              }
            }
          } else {
            val lt0 = s.indexOf('<', i)
            val end = if (lt0 < 0) n else lt0
            val raw = s.substring(i, end)
            i = end
            val txt = Html.decodeEntities(raw)
            if (txt.nonEmpty) pending += Text(txt)
          }
        }
      }

      override def toString = s"HtmlTokenizer@$i/$n"
    }

  private def countWords(s: String): Int = {
    var c = 0; var in = false; var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') in = false
      else if (!in) { c += 1; in = true }
      i += 1
    }
    c
  }

  /** Word count over raw (un-canonicalized) text: non-whitespace runs,
    * using the whitespace set the Canonicalizer collapses.
    */
  private def countWordsRaw(s: String): Int = {
    var c = 0; var in = false; var i = 0
    while (i < s.length) {
      if (Canonicalizer.isSpace(s.charAt(i))) in = false
      else if (!in) { c += 1; in = true }
      i += 1
    }
    c
  }

  /** Consume the token stream into blocks. */
  def build(toks: Iterator[Tok]): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    val stack = ArrayBuffer.empty[String]
    var anchorDepth = 0
    var boilerDepth = 0
    var contentDepth = 0
    val buf = new java.lang.StringBuilder
    var blockPath = "" // path snapshot at first text of the current block
    var pendingLinkWords = 0 // words seen inside <a> in the current block
    var blockBoiler = false
    var blockContent = false

    def flush(): Unit = {
      if (buf.length == 0) { pendingLinkWords = 0; return }
      val raw = buf.toString
      buf.setLength(0)
      val canon = Canonicalizer.block(raw)
      val lw = pendingLinkWords
      pendingLinkWords = 0
      if (canon.nonEmpty)
        out += Block(canon, blockPath, countWords(canon), lw, blockBoiler, blockContent)
    }

    toks.foreach {
      case StartTag(name, selfClosing) =>
        if (blockTags.contains(name)) flush()
        if (!voidTags.contains(name) && !selfClosing) {
          stack += name
          if (name == "a") anchorDepth += 1
          if (boilerTags.contains(name)) boilerDepth += 1
          if (contentTags.contains(name)) contentDepth += 1
        }
      case EndTag(name) =>
        if (blockTags.contains(name)) flush()
        // pop to the matching open tag (tolerates unclosed intermediates)
        val idx = stack.lastIndexOf(name)
        if (idx >= 0) {
          var k = stack.length - 1
          while (k >= idx) {
            val t = stack.remove(k)
            if (t == "a") anchorDepth -= 1
            if (boilerTags.contains(t)) boilerDepth -= 1
            if (contentTags.contains(t)) contentDepth -= 1
            k -= 1
          }
        }
      case Text(t) =>
        if (buf.length == 0) {
          blockPath = stack.mkString("/")
          blockBoiler = boilerDepth > 0
          blockContent = contentDepth > 0
        } else {
          // a block spanning into/out of boiler scope stays conservative
          blockBoiler = blockBoiler || boilerDepth > 0
        }
        if (anchorDepth > 0) pendingLinkWords += countWordsRaw(t)
        buf.append(t)
        buf.append(' ') // token boundary between text runs; collapsed later
    }
    flush()
    out.result()
  }
}

package graft.core

import java.nio.charset.{Charset, StandardCharsets}
import java.util.Locale

/** SAX-style HTML tokenizer over raw bytes (SURVEY.md par 2.3 item 11a).
  *
  * From scratch, no parser library: charset detection (BOM + meta probe),
  * entity decoding, script/style/comment/CDATA skipping, tolerant of
  * malformed fragments (a stray '<' that opens no tag is text). Replaces
  * the reference's per-document engine.process black box
  * (/root/reference/src/api/routes/v2/dynamic_routes.py:231-234) with a
  * deterministic pure function; the per-document timeout
  * (dynamic_routes.py:231-234, 30 s) becomes the Deadline checked in the
  * scan loop.
  */
object Html {

  /** Per-document budget; 0 or negative => unlimited on that axis.
    *
    * Two axes: wall time (the reference's asyncio.wait_for analog) and
    * parse STEPS — one step per scan-loop iteration (one tag or one text
    * run). The step budget is the deterministic twin of the wall budget:
    * identical on every machine and run, so timeout behavior can be
    * oracle-verified (wall-clock timeouts can't be), while bounding the
    * same quantity (kernel work per document).
    */
  final class Deadline(budgetNanos: Long, budgetSteps: Long = 0L) {
    private val t0 = System.nanoTime()
    private var n = 0L
    /** Scan-loop iterations so far (calibration + tests). */
    def steps: Long = n
    def expired(): Boolean = {
      n += 1
      if (budgetSteps > 0L && n > budgetSteps) return true
      if (budgetNanos <= 0L) return false
      // amortize the nanoTime syscall: check every 256 steps
      (n & 0xffL) == 0L && System.nanoTime() - t0 > budgetNanos
    }
    def hard(): Boolean = budgetNanos > 0L && System.nanoTime() - t0 > budgetNanos
  }
  object Deadline { val unlimited = new Deadline(0L) }

  final class TimeoutException extends RuntimeException("per-document deadline exceeded")

  // ---------------------------------------------------------------- charset

  /** Detect charset: BOM first, then an ASCII probe of the first 1024 bytes
    * for a meta charset declaration, else UTF-8. Mirrors the magic-byte
    * idea of the reference's format sniffing
    * (/root/reference/src/utils/validators.py:31-56).
    */
  def detectCharset(bytes: Array[Byte]): Charset = bomOf(bytes) match {
    case 3 => StandardCharsets.UTF_8
    case 2 => if ((bytes(0) & 0xff) == 0xfe) StandardCharsets.UTF_16BE else StandardCharsets.UTF_16LE
    case _ => metaCharset(bytes)
  }

  /** Length of a leading UTF-8 (3) or UTF-16BE/LE (2) byte-order mark; 0 if none. */
  private def bomOf(bytes: Array[Byte]): Int =
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf) 3
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff) 2
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe) 2
    else 0

  /** The charset a meta declaration in the first 1024 bytes names, else UTF-8. */
  private def metaCharset(bytes: Array[Byte]): Charset = {
    // byte-scan the first 1024 bytes for "charset=" (ASCII,
    // case-insensitive) — no probe String allocation per document
    val n = math.min(bytes.length, 1024)
    val i = indexOfAsciiIgnoreCase(bytes, n, "charset=")
    if (i >= 0) {
      var j = i + 8
      def at(k: Int): Char = (bytes(k) & 0xff).toChar
      if (j < n && (at(j) == '"' || at(j) == '\'')) j += 1
      val start = j
      while (j < n && {
        val c = at(j)
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '-' || c == '_'
      }) j += 1
      val name = new String(bytes, start, j - start, StandardCharsets.ISO_8859_1)
        .toLowerCase(Locale.ROOT)
      try { if (Charset.isSupported(name)) return Charset.forName(name) }
      catch { case _: Exception => }
    }
    StandardCharsets.UTF_8
  }

  /** First index of the lowercase ASCII `needle` in bytes[0,n), matching
    * case-insensitively. Allocation-free.
    */
  private[core] def indexOfAsciiIgnoreCase(bytes: Array[Byte], n: Int, needle: String): Int = {
    val m = needle.length
    var i = 0
    while (i + m <= n) {
      var k = 0
      var ok = true
      while (ok && k < m) {
        var c = (bytes(i + k) & 0xff)
        if (c >= 'A' && c <= 'Z') c += 32
        if (c != needle.charAt(k)) ok = false
        k += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** Decode with malformed input replaced (never throws on bad bytes).
    * `new String(bytes, cs)` replaces malformed/unmappable input exactly
    * like a REPLACE-configured CharsetDecoder, but builds the String in
    * one copy (and compact-string-compresses ASCII to 1 byte/char) where
    * the decoder path costs a CharBuffer + toString — two full copies of
    * every document. The kernel is memory-bandwidth-bound at 32 threads,
    * so document-sized copies are the scaling currency.
    */
  def decode(bytes: Array[Byte]): String = {
    val bom = bomOf(bytes)
    // a byte-order mark decodes to exactly one U+FEFF, so skipping its
    // bytes drops it without a second copy of the page
    if (bom > 0) return decode(bytes, bom, detectCharset(bytes))
    val out = decode(bytes, 0, metaCharset(bytes))
    // a meta-declared charset (utf-32, gb18030, ...) can still decode to a
    // leading U+FEFF; strip it as a BOM
    if (out.nonEmpty && out.charAt(0) == '\ufeff') out.substring(1) else out
  }

  private def decode(bytes: Array[Byte], from: Int, cs: Charset): String = {
    val latin1 = if (cs == StandardCharsets.UTF_8) latin1Utf8(bytes, from) else null
    if (latin1 != null) latin1 else new String(bytes, from, bytes.length - from, cs)
  }

  private val longsLE = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  /** UTF-8 `bytes[from..]` as a String when they hold only ASCII and the
    * well-formed two-byte sequences of U+0080..U+00FF, the text of most
    * Western pages; null otherwise, for the general decoder. The JDK
    * decodes such a page one byte at a time and then copies it again to
    * trim its buffer; here ASCII stretches are checked eight bytes a step
    * and moved in bulk. Same chars either way.
    */
  private def latin1Utf8(bytes: Array[Byte], from: Int): String = {
    val n = bytes.length
    val dst = new Array[Byte](n - from)
    var i = from
    var d = 0
    while (i < n) {
      var j = i
      while (j + 8 <= n && ((longsLE.get(bytes, j): Long) & 0x8080808080808080L) == 0L) j += 8
      while (j < n && bytes(j) >= 0) j += 1
      System.arraycopy(bytes, i, dst, d, j - i)
      d += j - i
      i = j
      if (i < n) {
        val b1 = bytes(i) & 0xff
        if ((b1 == 0xc2 || b1 == 0xc3) && i + 1 < n && (bytes(i + 1) & 0xc0) == 0x80) {
          dst(d) = (((b1 & 0x1f) << 6) | (bytes(i + 1) & 0x3f)).toByte
          d += 1
          i += 2
        } else return null
      }
    }
    new String(dst, 0, d, StandardCharsets.ISO_8859_1)
  }

  // ---------------------------------------------------------------- entities

  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "trade" -> "™", "deg" -> "°",
    "middot" -> "·", "bull" -> "•", "laquo" -> "«",
    "raquo" -> "»", "times" -> "×", "shy" -> "",
    "auml" -> "ä", "ouml" -> "ö", "uuml" -> "ü",
    "Auml" -> "Ä", "Ouml" -> "Ö", "Uuml" -> "Ü",
    "szlig" -> "ß", "eacute" -> "é", "egrave" -> "è",
    "agrave" -> "à", "ccedil" -> "ç", "ntilde" -> "ñ",
  )

  /** Case-insensitive indexOf — raw-text and RCDATA close tags match
    * ASCII case-insensitively in browsers (`</SCRIPT>` closes `<script>`).
    * The tokenizer's one close-tag search; the sitemap and feed walker
    * ([[XmlEntries]]) finds its elements with it too.
    */
  private[core] def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    // no char case-folds to an ASCII non-letter (the '<' every needle
    // starts with), so a match can only begin at one: jump between them
    val first = needle.charAt(0)
    val jump = first < 0x80 && !Character.isLetter(first)
    var i = math.max(0, from)
    val n = s.length - needle.length
    while (i <= n) {
      if (jump) { i = s.indexOf(first, i); if (i < 0 || i > n) return -1 }
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** Decode character references in a text run. Unknown entities pass
    * through verbatim (tolerant, like browsers).
    */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    appendDecoded(sb, s, 0, s.length)
    sb.toString
  }

  /** Append s[from,to) to sb with character references decoded — the
    * zero-copy form of [[decodeEntities]]: entity-free stretches land as
    * bulk appends, no per-run substring. Hot path: the streaming parser
    * feeds every text run through here.
    */
  def appendDecoded(sb: java.lang.StringBuilder, s: String, from: Int, to: Int): Unit = {
    var i = from
    while (i < to) {
      // bounded scans only: String.indexOf would run to the next '&'/';'
      // ANYWHERE in the document (or EOF), making parse quadratic in
      // runs x doc-length for entity-sparse documents
      var amp = i
      while (amp < to && s.charAt(amp) != '&') amp += 1
      if (amp == to) { sb.append(s, i, to); return }
      sb.append(s, i, amp) // entity-free prefix, bulk
      i = amp
      val c = s.charAt(i)
      val semiLimit = math.min(to, i + 13) // entity body <= 12 chars
      var semi = i + 1
      while (semi < semiLimit && s.charAt(semi) != ';') semi += 1
      if (semi == semiLimit) semi = -1
      if (semi > i) {
        val body = s.substring(i + 1, semi)
        if (body.startsWith("#x") || body.startsWith("#X")) {
          try {
            val cp = Integer.parseInt(body.substring(2), 16)
            if (Character.isValidCodePoint(cp)) { sb.appendCodePoint(cp); i = semi + 1 }
            else { sb.append(c); i += 1 }
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else if (body.startsWith("#")) {
          try {
            val cp = Integer.parseInt(body.substring(1))
            if (Character.isValidCodePoint(cp)) { sb.appendCodePoint(cp); i = semi + 1 }
            else { sb.append(c); i += 1 }
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else named.get(body) match {
          case Some(rep) => sb.append(rep); i = semi + 1
          case None      => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
  }

  // ---------------------------------------------------------------- tag names

  /** Role bits of a known tag name: one bit test answers each question the
    * block builder and the raw-text rule ask of a tag.
    */
  object Role {
    final val Block = 1    // delimits text blocks
    final val Void = 2     // never pushed on the open-element stack
    final val Boiler = 4   // structural boilerplate container: its text is never main content
    final val Content = 8  // explicit content container
    final val Anchor = 16  // <a>: words inside it are link words
    final val RawText = 32 // content skipped unparsed up to the matching close tag
    final val RcData = 64  // content is one text run up to the matching close tag
  }

  private val roleNames: Seq[(Int, String)] = Seq(
    Role.Block -> ("p div article section main aside nav header footer h1 h2 h3 h4 h5 h6 " +
      "li ul ol dl dt dd td th tr table thead tbody tfoot blockquote pre br hr form figure " +
      "figcaption fieldset legend address details summary body"),
    Role.Void -> "br hr img meta link input area base col embed source track wbr",
    Role.Boiler -> "nav header footer aside form button select option label figure head title",
    Role.Content -> "article main",
    Role.Anchor -> "a",
    Role.RawText -> "script style textarea noscript",
    Role.RcData -> "title",
    // roleless names: known only so that resolving them allocates nothing
    0 -> ("html span b i u s em strong small code sup sub abbr cite q time mark kbd samp var " +
      "dfn del ins iframe svg path canvas video audio picture object param caption colgroup " +
      "optgroup dialog menu template center font"),
  )

  /** Six-bit code of each tag-name char `[A-Za-z0-9:_-]`, ASCII case
    * folded (so the fold is exactly `toLowerCase(Locale.ROOT)`); 0 for
    * every other char.
    */
  private val nameCode: Array[Byte] = {
    val a = new Array[Byte](128)
    for (c <- 'a' to 'z') { a(c) = (c - 'a' + 1).toByte; a(c - 32) = a(c) }
    for (c <- '0' to '9') a(c) = (c - '0' + 27).toByte
    a(':') = 37; a('_') = 38; a('-') = 39
    a
  }

  /** A name of up to ten chars packs into one Long key, six bits a char:
    * the key IS the lowercased name, so a table hit needs no char compare.
    * No known name is longer.
    */
  private final val MaxKeyLength = 10

  /** Key of a name; -1 if it is longer than ten chars or not a tag name. */
  private def keyOf(name: String): Long = {
    var key = 0L
    var i = 0
    while (i < name.length) {
      val c = name.charAt(i)
      if (c >= 128 || nameCode(c) == 0 || i == MaxKeyLength) return -1L
      key = (key << 6) | nameCode(c)
      i += 1
    }
    key
  }

  // open-addressed table of the known names by key (0 = empty slot)
  private final val TableMask = 511
  private val tableKeys = new Array[Long](TableMask + 1)
  private val tableNames = new Array[String](TableMask + 1)
  private val tableRoles = new Array[Int](TableMask + 1)

  /** The slot that holds `key`, or the empty slot where it would go. */
  private def slotOf(key: Long): Int = {
    var k = ((key * 0x9e3779b97f4a7c15L) >>> 55).toInt // top 9 bits
    while (tableKeys(k) != 0L && tableKeys(k) != key) k = (k + 1) & TableMask
    k
  }

  for ((role, names) <- roleNames; name <- names.split(' ')) {
    val k = slotOf(keyOf(name))
    tableKeys(k) = keyOf(name)
    tableNames(k) = name
    tableRoles(k) |= role
  }

  /** [[Role]] bits of a tag name; 0 for a name outside the table. */
  def rolesOf(name: String): Int = {
    val key = keyOf(name)
    if (key <= 0L) 0 else tableRoles(slotOf(key))
  }

  // ---------------------------------------------------------------- tokenizer

  private def isNameStart(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char) =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':' || c == '_'

  /** SAX-style event sink for [[parse]]. Text arrives as (s, from, to)
    * index ranges into the decoded document — no per-run substring — with
    * entities NOT yet decoded (route through [[appendDecoded]]).
    */
  trait Sink {
    def startTag(name: String, selfClosing: Boolean): Unit
    def endTag(name: String): Unit
    def text(s: String, from: Int, to: Int): Unit

    /** What [[parse]] calls: the tag name with its [[Role]] bits (0 for a
      * name outside the table). By default they drop the roles; a sink
      * that asks role questions overrides these instead of looking the
      * name up again.
      */
    def startTag(name: String, roles: Int, selfClosing: Boolean): Unit = startTag(name, selfClosing)
    def endTag(name: String, roles: Int): Unit = endTag(name)

    /** Whether [[parse]] hands the attributes of a start tag named `name`
      * to [[attribute]]. By default no tag's are, and none is materialized.
      */
    def wantsAttributes(name: String): Boolean = false

    /** One attribute of a start tag [[wantsAttributes]] asked for, in
      * source order, before the tag's `startTag`: the name lowercased and
      * the value as the range s[from,to), entities not yet decoded (see
      * [[attributeValue]]); `from` is -1 for an attribute without a value.
      */
    def attribute(name: String, s: String, from: Int, to: Int): Unit = ()

    /** The unparsed body s[from,to) of a raw-text element (script, style,
      * textarea, noscript), between its `startTag` and `endTag`.
      */
    def rawText(s: String, from: Int, to: Int): Unit = ()
  }

  /** An [[Sink.attribute]] value entity-decoded; "" for one without a value. */
  def attributeValue(s: String, from: Int, to: Int): String =
    if (from < 0) "" else decodeEntities(s.substring(from, to))

  /** Tokenize decoded HTML into `sink` events: start tags, end tags and
    * text runs. This is the one HTML tag scanner; every HTML view of a
    * page (text kernel, outlinks, images, title/h1, directives, tables,
    * outline) is a sink on it, so all of them agree on what is markup:
    *
    *   - comments, CDATA, doctypes and processing instructions are
    *     consumed silently, and a '<' that opens no tag is literal text;
    *   - attribute values are quoted or unquoted, and an unquoted value
    *     ends at whitespace or '>' (a '/' inside it, as in `href=/a/b`,
    *     is part of the value); `/>` self-closes only where an attribute
    *     could start;
    *   - script, style, textarea and noscript are raw text: their body
    *     is never markup and never text, and goes to [[Sink.rawText]];
    *   - title is RCDATA: its body reaches `text` as one run;
    *   - a raw-text or RCDATA body ends at the first case-insensitive
    *     `</name`, and at EOF when there is none; a self-closing one has
    *     no body.
    *
    * Attributes are materialized only for the start tags a sink asks for
    * ([[Sink.wantsAttributes]]). Otherwise nothing is allocated per
    * token: text is passed as index ranges, and a tag name is resolved
    * against one static table of known lowercase names and handed over
    * as the interned table string with its [[Role]] bits. While the name
    * is scanned its chars are case folded (tag names are `[A-Za-z0-9:_-]`,
    * so the ASCII fold is exactly `toLowerCase(Locale.ROOT)`) and packed
    * six bits each into a Long key that is the name itself, so resolving
    * it takes Long compares in one table probe sequence and no char
    * compare. Only a name outside the table costs a `substring` +
    * `toLowerCase`.
    *
    * One [[Deadline.expired]] step per tag or text run (a raw-text element
    * with its body is one; a title is its tag, its body run and its close
    * tag); throws [[TimeoutException]] when the deadline expires.
    */
  def parse(html: String, sink: Sink, deadline: Deadline = Deadline.unlimited): Unit = {
    val s = html
    val n = s.length
    var i = 0
    var tagName: String = null   // null = no tag at this position
    var tagRoles = 0
    var tagClosing = false
    var tagSelfClosing = false

    def step(): Unit = if (deadline.expired()) throw new TimeoutException

    // Scan one tag starting at '<'; set tagName/tagRoles/tagClosing/
    // tagSelfClosing; return the position after the tag.
    def parseTag(lt: Int): Int = {
      tagName = null
      tagClosing = false
      tagSelfClosing = false
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
        val end = s.indexOf('>', lt + 1)
        return if (end < 0) n else end + 1
      }
      if (c == '?') {
        val end = s.indexOf('>', lt + 1)
        return if (end < 0) n else end + 1
      }
      val closing = c == '/'
      if (closing) j += 1
      if (j >= n || !isNameStart(s.charAt(j))) return lt + 1 // literal '<'
      val nameStart = j
      var key = 0L // the name's table key, packed while it is scanned
      var code = 1
      while (code != 0 && j < n) {
        val ch = s.charAt(j)
        code = if (ch < 128) nameCode(ch) else 0
        if (code != 0) { key = (key << 6) | code; j += 1 }
      }
      val slot = if (j - nameStart <= MaxKeyLength) slotOf(key) else -1
      if (slot >= 0 && tableKeys(slot) == key) {
        tagName = tableNames(slot)
        tagRoles = tableRoles(slot)
      } else {
        tagName = s.substring(nameStart, j).toLowerCase(Locale.ROOT)
        tagRoles = 0
      }
      if (closing) {
        val end = s.indexOf('>', j)
        tagClosing = true
        return if (end < 0) n else end + 1
      }
      val want = sink.wantsAttributes(tagName)
      var selfClosing = false
      var done = false
      while (!done) {
        while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
        if (j >= n) { done = true }
        else {
          val ch = s.charAt(j)
          if (ch == '>') { j += 1; done = true }
          else if (ch == '/' && j + 1 < n && s.charAt(j + 1) == '>') { selfClosing = true; j += 2; done = true }
          else if (isNameStart(ch)) {
            val attrStart = j
            while (j < n && isNameChar(s.charAt(j))) j += 1
            val attrEnd = j
            var from = -1
            var to = -1
            var k = j
            while (k < n && Character.isWhitespace(s.charAt(k))) k += 1
            if (k < n && s.charAt(k) == '=') {
              k += 1
              while (k < n && Character.isWhitespace(s.charAt(k))) k += 1
              if (k < n && (s.charAt(k) == '"' || s.charAt(k) == '\'')) {
                val q = s.charAt(k)
                val vend = s.indexOf(q, k + 1)
                from = k + 1
                to = if (vend < 0) n else vend
                k = if (vend < 0) n else vend + 1
              } else {
                from = k
                while (k < n && !Character.isWhitespace(s.charAt(k)) && s.charAt(k) != '>') k += 1
                to = k
              }
              j = k
            }
            if (want) sink.attribute(s.substring(attrStart, attrEnd).toLowerCase(Locale.ROOT), s, from, to)
          } else j += 1 // junk char inside tag; skip
        }
      }
      tagSelfClosing = selfClosing
      j
    }

    while (i < n) {
      step()
      if (s.charAt(i) == '<') {
        val lt = i
        i = parseTag(lt)
        if (tagName == null) {
          if (i == lt + 1) sink.text(s, lt, i) // literal '<'
          // else: comment/doctype/PI — consumed silently
        } else if (tagClosing) sink.endTag(tagName, tagRoles)
        else if (tagSelfClosing || (tagRoles & (Role.RawText | Role.RcData)) == 0)
          sink.startTag(tagName, tagRoles, tagSelfClosing)
        else {
          // raw-text or RCDATA element: emit start, hand over the body up
          // to the close tag (matched case-insensitively, as browsers do),
          // emit end; a missing close tag ends the body at EOF
          val name = tagName
          val roles = tagRoles
          sink.startTag(name, roles, selfClosing = false)
          val close = "</" + name
          val k = Html.indexOfIgnoreCase(s, close, i)
          val end = if (k < 0) n else k
          if ((roles & Role.RawText) != 0) sink.rawText(s, i, end)
          else {
            if (end > i) { step(); sink.text(s, i, end) }
            if (k >= 0) step()
          }
          if (k < 0) i = n
          else {
            val gt = s.indexOf('>', k + close.length)
            i = if (gt < 0) n else gt + 1
          }
          sink.endTag(name, roles)
        }
      } else {
        val lt = s.indexOf('<', i)
        val end = if (lt < 0) n else lt
        if (end > i) sink.text(s, i, end)
        i = end
      }
    }
  }
}

package graft.core

import java.text.Normalizer

/** THE determinism choke point (SURVEY.md par 7.2 item 7).
  *
  * Every byte of extracted text funnels through here so that goldens are
  * byte-identical across JVMs, locales, and parallelism levels (the
  * north_rule gate; mirrors the reference's determinism contract at
  * /root/reference/tests/e2e/test_ocr_tesseract.py:163-169 -- same input
  * must produce identical output).
  *
  * Canonical form:
  *   - Unicode NFC
  *   - all whitespace runs inside a block collapsed to a single ASCII space
  *   - blocks trimmed; empty blocks dropped
  *   - blocks joined with a single '\n'
  */
object Canonicalizer {

  /** True for every code point we treat as collapsible whitespace.
    * ASCII whitespace plus NBSP (entity-decoded) and the Unicode space
    * separators -- a fixed, documented set rather than
    * Character.isWhitespace so the contract cannot drift across JDKs.
    */
  def isSpace(c: Char): Boolean = {
    val i = c.toInt
    if (i < 0x80) i == 0x20 || (i >= 0x09 && i <= 0x0d)
    else i == 0xa0 || i == 0x1680 ||
      (i >= 0x2000 && i <= 0x200a) || i == 0x2028 || i == 0x2029 ||
      i == 0x202f || i == 0x205f || i == 0x3000 || i == 0xfeff
  }

  /** Reusable state for [[blockOf]]: the char[] a block is
    * canonicalized in, and the word count of the last block.
    */
  final class Scratch {
    private[Canonicalizer] var chars = Array.emptyCharArray
    /** Words (maximal non-space runs) of the last [[blockOf]] result. */
    var words = 0
    private[Canonicalizer] def charsFor(n: Int): Array[Char] = {
      if (chars.length < n) chars = new Array[Char](math.max(n, 2 * chars.length))
      chars
    }
  }

  /** [[block]] of a buffer's contents, plus its word count in
    * `scratch.words`, built in `scratch`'s reused char[] so that only the
    * result String is allocated. An ASCII block (the common case) takes
    * one pass: whitespace runs collapse in place while words are counted,
    * bailing out at the first char >= 0x80. A non-ASCII block takes
    * today's exact path, NFC then collapse: NFC runs first because
    * composition must see the original character sequence, then the same
    * in-place pass collapses and counts the normalized chars. NFC is the
    * identity on ASCII, so both paths produce [[block]]'s bytes.
    */
  def blockOf(buf: java.lang.StringBuilder, scratch: Scratch): String = {
    val n = buf.length
    buf.getChars(0, n, scratch.charsFor(n), 0)
    val w = collapseInPlace(scratch, n, asciiOnly = true)
    if (w >= 0) return new String(scratch.chars, 0, w)
    val nfc = Normalizer.normalize(buf, Normalizer.Form.NFC)
    nfc.getChars(0, nfc.length, scratch.charsFor(nfc.length), 0)
    new String(scratch.chars, 0, collapseInPlace(scratch, nfc.length, asciiOnly = false))
  }

  /** Collapse scratch.chars[0,n) in place and count its words into
    * `scratch.words`; returns the collapsed length, or -1 at the first
    * char >= 0x80 when `asciiOnly`.
    */
  private def collapseInPlace(scratch: Scratch, n: Int, asciiOnly: Boolean): Int = {
    val a = scratch.chars
    var w = 0 // write index; never passes the read index
    var words = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = a(i)
      if (c >= 0x80 && asciiOnly) return -1
      if (isSpace(c)) pendingSpace = w > 0
      else {
        if (w == 0) words = 1
        else if (pendingSpace) { a(w) = ' '; w += 1; words += 1; pendingSpace = false }
        a(w) = c
        w += 1
      }
      i += 1
    }
    scratch.words = words
    w
  }

  /** Collapse whitespace runs to single spaces and trim. Pure, total. */
  def collapse(s: CharSequence): String = {
    val scratch = new Scratch
    s.toString.getChars(0, s.length, scratch.charsFor(s.length), 0)
    new String(scratch.chars, 0, collapseInPlace(scratch, s.length, asciiOnly = false))
  }

  /** [[block]] of a buffer's contents. */
  def blockOf(buf: java.lang.StringBuilder): String = blockOf(buf, new Scratch)

  /** NFC-normalize. Applied per block (NFC is preserved by our join
    * because '\n' is inert under composition). Pure-ASCII fast path:
    * NFC is the identity on ASCII, and most web-text blocks are ASCII,
    * so skip the (expensive) Normalizer call when possible — result is
    * byte-identical either way.
    */
  def nfc(s: String): String = {
    var i = 0
    while (i < s.length && s.charAt(i) < 0x80) i += 1
    if (i == s.length) s else Normalizer.normalize(s, Normalizer.Form.NFC)
  }

  /** Canonical block: NFC + collapse. */
  def block(s: String): String = collapse(nfc(s))

  /** Join already-canonical blocks into the final document text. */
  def joinBlocks(blocks: Seq[String]): String =
    blocks.filter(_.nonEmpty).mkString("\n")
}

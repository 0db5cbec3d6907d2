package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.gen.{HtmlGen, PdfGen}

/** Pure-kernel tests (no Spark): tokenizer, classifier, canonicalizer,
  * PDF parse + XY-cut, determinism — mirroring the reference's unit layer
  * (magic-byte table tests/unit/utils/test_validators.py:26-48; determinism
  * tests/e2e/test_ocr_tesseract.py:163-169).
  */
class KernelSpec extends AnyFunSuite {

  private def words(n: Int, seed: Int = 1): String = {
    val pool = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    (0 until n).map(i => pool((i * 31 + seed) % pool.length)).mkString(" ")
  }

  // ---------------------------------------------------------- canonicalizer

  test("collapse removes runs and trims") {
    assert(Canonicalizer.collapse("  a\t\tb\n\nc  ") == "a b c")
    assert(Canonicalizer.collapse("") == "")
    assert(Canonicalizer.collapse("    ") == "")
  }

  test("collapse is idempotent") {
    val s = "x  y z\n"
    assert(Canonicalizer.collapse(Canonicalizer.collapse(s)) == Canonicalizer.collapse(s))
  }

  // --------------------------------------------------------------- tokenizer

  test("entities decode; unknown pass through") {
    assert(Html.decodeEntities("a &amp; b &lt;x&gt; &#65; &#x42; &nosuch; &amp") ==
      "a & b <x> A B &nosuch; &amp")
  }

  test("script/style/comment content never reaches text") {
    val html = "<html><body><script>var x = '<p>no</p>';</script><style>p{}</style>" +
      "<!-- <p>also no</p> --><p>yes</p></body></html>"
    val blocks = BlockBuilder.buildStreaming(html, Html.Deadline.unlimited)
    assert(blocks.map(_.text) == Vector("yes"))
  }

  test("stray < is literal text; unclosed tags tolerated") {
    val html = "<body><p>a < b<p>second para</body>"
    val blocks = BlockBuilder.buildStreaming(html, Html.Deadline.unlimited)
    assert(blocks.map(_.text) == Vector("a < b", "second para"))
  }

  test("charset detection: meta + bom") {
    assert(Html.detectCharset("<meta charset=\"iso-8859-1\">".getBytes("ascii")).name()
      .toLowerCase.contains("8859"))
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "<p>x</p>".getBytes("UTF-8")
    assert(Html.detectCharset(bom) == java.nio.charset.StandardCharsets.UTF_8)
    // latin-1 payload declared via meta decodes correctly
    val latin = "<html><head><meta charset=\"iso-8859-1\"></head><body><p>café</p></body></html>"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val r = HtmlExtractor.extract(latin, Html.Deadline.unlimited)
    assert(r.text == "café")
  }

  test("decode drops a UTF-8, UTF-16BE or UTF-16LE byte-order mark exactly as a full decode + strip") {
    import java.nio.charset.StandardCharsets.{UTF_8, UTF_16BE, UTF_16LE}
    def decodeThenStrip(bytes: Array[Byte]): String = {
      val out = new String(bytes, Html.detectCharset(bytes))
      if (out.nonEmpty && out.charAt(0) == '\ufeff') out.substring(1) else out
    }
    val bodies = Seq("", "<p>x</p>", "<p>Müller € 中文</p>", "\ufeff<p>second mark stays</p>")
    for ((cs, bom) <- Seq(UTF_8 -> Array(0xef, 0xbb, 0xbf), UTF_16BE -> Array(0xfe, 0xff),
        UTF_16LE -> Array(0xff, 0xfe)); body <- bodies) {
      val bytes = bom.map(_.toByte) ++ body.getBytes(cs)
      assert(Html.decode(bytes) == decodeThenStrip(bytes), s"$cs ${body.take(12)}")
      assert(Html.decode(bytes) == body, s"$cs ${body.take(12)}")
    }
    // a mark alone, and an odd byte after a UTF-16 mark (malformed tail)
    assert(Html.decode(Array(0xef, 0xbb, 0xbf).map(_.toByte)) == "")
    val odd = Array(0xfe, 0xff, 0x00, 0x41, 0x42).map(_.toByte)
    assert(Html.decode(odd) == decodeThenStrip(odd))
    // no mark: a meta-declared charset that decodes to a leading U+FEFF
    // still has it stripped
    val gb = "\ufeff<meta charset=gb18030><p>x</p>".getBytes("GB18030")
    assert(Html.decode(gb) == "<meta charset=gb18030><p>x</p>")
  }

  test("role table agrees with the reference element sets") {
    import Html.Role
    val names = ReferenceKernel.blockTags ++ ReferenceKernel.voidTags ++ ReferenceKernel.boilerTags ++
      ReferenceKernel.contentTags ++ Set("a", "script", "style", "textarea", "noscript", "span", "html",
      "x-nav", "dav", "pblockquote", "pfigcaption", "xxblockquote", "")
    for (n <- names) {
      val r = Html.rolesOf(n)
      assert(((r & Role.Block) != 0) == ReferenceKernel.blockTags(n), n)
      assert(((r & Role.Void) != 0) == ReferenceKernel.voidTags(n), n)
      assert(((r & Role.Boiler) != 0) == ReferenceKernel.boilerTags(n), n)
      assert(((r & Role.Content) != 0) == ReferenceKernel.contentTags(n), n)
      assert(((r & Role.Anchor) != 0) == (n == "a"), n)
      assert(((r & Role.RawText) != 0) == Set("script", "style", "textarea", "noscript")(n), n)
    }
  }

  // ------------------------------------------------------------- classifier

  test("boilerplate containers are stripped, article kept") {
    val text = words(90)
    val bytes = HtmlGen.render(12L, text, "en")
    val r = HtmlExtractor.extract(bytes, Html.Deadline.unlimited)
    assert(r.text == HtmlGen.expectedText(text))
    assert(r.pages == 1)
  }

  test("generator contract holds across template variants and sizes") {
    for (id <- 0L until 40L; n <- Seq(1, 7, 39, 40, 41, 80, 123)) {
      val text = words(n, id.toInt + n)
      val r = HtmlExtractor.extract(HtmlGen.render(id, text, "de"), Html.Deadline.unlimited)
      assert(r.text == HtmlGen.expectedText(text), s"id=$id n=$n")
    }
  }

  test("content-free page stays ok with empty text (blank-image parity)") {
    val r = HtmlExtractor.extract(HtmlGen.render(3L, "", "en"), Html.Deadline.unlimited)
    assert(r.text == "")
    assert(r.pages == 1)
  }

  test("boilerplate-only page triggers fallback ladder, not crash") {
    val html = "<html><body><nav><a href='/'>only nav</a></nav></body></html>"
    val r = HtmlExtractor.extract(html.getBytes("UTF-8"), Html.Deadline.unlimited)
    assert(r.text == "") // nav is structural boilerplate on every rung
  }

  test("fallback ladder recovers short unmarked content") {
    val html = "<html><body><div>tiny page body here</div></body></html>"
    val r = HtmlExtractor.extract(html.getBytes("UTF-8"), Html.Deadline.unlimited)
    assert(r.text == "tiny page body here")
  }

  // ------------------------------------------------------------------ spans

  test("spans: offsets are within text, derived words partition blocks") {
    val text = words(85)
    val r = HtmlExtractor.extract(HtmlGen.render(7L, text, "en"), Html.Deadline.unlimited)
    val page = r.spans.filter(_.kind == "page")
    assert(page.size == 1 && page.head.begin == 0 && page.head.end == r.text.length)
    r.spans.foreach { s =>
      assert(s.begin >= 0 && s.end <= r.text.length && s.begin <= s.end)
    }
    // word spans are derived (not stored): pure function of canonical text
    val wordSpans = Span.wordSpans(r.text)
    assert(wordSpans.size == 85)
    assert(Span.wordCount(r.text) == 85)
    wordSpans.foreach { s =>
      val w = r.text.substring(s.begin, s.end)
      assert(!w.contains(" ") && !w.contains("\n") && w.nonEmpty)
    }
    val blocks = r.spans.filter(_.kind == "block")
    assert(blocks.size == 3) // ceil(85/40)
    // derived words within each block reconstruct the block text
    blocks.foreach { b =>
      val ws = Span.wordSpans(r.text, b.begin, b.end)
      assert(ws.map(s => r.text.substring(s.begin, s.end)).mkString(" ") ==
        r.text.substring(b.begin, b.end))
    }
  }

  // -------------------------------------------------------------------- pdf

  test("pdf roundtrip: single column") {
    val text = words(30)
    val r = PdfExtractor.extract(PdfGen.render(2L, text), Html.Deadline.unlimited)
    assert(r.text == PdfGen.expectedText(text))
    assert(r.pages == 1)
  }

  test("pdf roundtrip: two columns reading order (XY-cut)") {
    val text = words(100, 3)
    val r = PdfExtractor.extract(PdfGen.render(3L, text), Html.Deadline.unlimited)
    assert(r.text == PdfGen.expectedText(text))
    assert(r.pages == 1)
  }

  test("pdf roundtrip: multi-page, compressed and raw streams") {
    for (id <- 0L to 5L; n <- Seq(1, 59, 60, 61, 119, 120, 121, 250, 400)) {
      val text = words(n, id.toInt * 7 + n)
      val r = PdfExtractor.extract(PdfGen.render(id, text), Html.Deadline.unlimited)
      assert(r.text == PdfGen.expectedText(text), s"id=$id n=$n")
      assert(r.pages == PdfGen.expectedPages(text), s"pages id=$id n=$n")
    }
  }

  test("pdf spans: page count and line structure") {
    val text = words(130)
    val r = PdfExtractor.extract(PdfGen.render(4L, text), Html.Deadline.unlimited)
    assert(r.pages == 2)
    assert(r.spans.count(_.kind == "page") == 2)
    assert(Span.wordCount(r.text) == 130)
    r.spans.filter(_.kind == "line").foreach { s =>
      assert(!r.text.substring(s.begin, s.end).contains("\n"))
    }
  }

  // ----------------------------------------------------------- content type

  test("magic-byte detection table") {
    assert(ContentType.detect("%PDF-1.4\n".getBytes("ascii")) == ContentType.Pdf)
    assert(ContentType.detect("<!DOCTYPE html><p>x".getBytes("ascii")) == ContentType.Html)
    assert(ContentType.detect("  \n\t<html>".getBytes("ascii")) == ContentType.Html)
    assert(ContentType.detect(Array[Byte](0x1f, 0x2f, 0x3f)) == ContentType.Unknown)
    assert(ContentType.detect(Array.emptyByteArray) == ContentType.Unknown)
    assert(ContentType.detect(HtmlGen.junkBytes(123L)) == ContentType.Unknown)
  }

  // ------------------------------------------------------------ determinism

  test("extraction is deterministic: same input => identical output") {
    for (id <- 0L to 10L) {
      val text = words(77, id.toInt)
      val h = HtmlGen.render(id, text, "en")
      assert(HtmlExtractor.extract(h, Html.Deadline.unlimited) ==
        HtmlExtractor.extract(h, Html.Deadline.unlimited))
      val p = PdfGen.render(id, text)
      assert(PdfExtractor.extract(p, Html.Deadline.unlimited) ==
        PdfExtractor.extract(p, Html.Deadline.unlimited))
    }
  }

  test("streaming parser == iterator tokenizer (block-identical over corpus)") {
    // buildStreaming must be byte-identical to build(tokenize): generated
    // corpus pages (several shapes + langs), plus hand-built edge cases
    val edge = Seq(
      "<p>a &amp; b &nbsp; c&shy;d</p>",
      "<div>x<a href='q'>link &copy; text</a>y</div>",
      "plain < not-a-tag & loose &unknown; text",
      "<ul><li>one<li>two</ul><script>var x = '<p>';</script><p>after",
      "<!-- c --><![CDATA[z]]><!doctype html><?pi?><article>m&#65;in</article>",
      "<P CLASS='x'>Upper <B>case</B> tags</P>",
      "<textarea><p>ignored</p></textarea><p>kept</p>",
      "&#x48;ex &#72;dec &#xZZ; bad",
    )
    val corpus = (0L to 40L).map(id => new String(HtmlGen.render(id, words(90, id.toInt), "de"), "UTF-8"))
    for (html <- edge ++ corpus) {
      val a = ReferenceKernel.build(ReferenceKernel.tokenize(html))
      val b = BlockBuilder.buildStreaming(html, Html.Deadline.unlimited)
      assert(a == b, s"mismatch for: ${html.take(80)}")
    }
  }

  test("entity-sparse large doc parses in linear time (bounded entity scan)") {
    // regression: appendDecoded once scanned indexOf('&') to EOF per text
    // run — quadratic in runs x doc-length (~10 s for this input); the
    // bounded scan finishes in well under a second
    val run = "<b>word and another phrase</b>"
    val html = ("<html><body><div>" + (run * 120000) + "</div></body></html>").getBytes("UTF-8")
    val t0 = System.nanoTime()
    val r = HtmlExtractor.extract(html, Html.Deadline.unlimited)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r.text.nonEmpty)
    assert(sec < 5.0, f"large entity-free doc took $sec%.1f s — quadratic scan regressed")
  }

  test("deadline trips on pathological input") {
    val huge = ("<div>" * 200000 + "deep text " * 1000).getBytes("UTF-8")
    val tiny = new Html.Deadline(1L) // 1 ns budget
    intercept[Html.TimeoutException] {
      HtmlExtractor.extract(huge, tiny)
    }
  }
}

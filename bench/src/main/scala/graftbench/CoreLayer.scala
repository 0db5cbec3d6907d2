package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.Base64
import scala.jdk.CollectionConverters._
import graft.core._
import graft.gen.PagesGen
import graft.spark.ExtractPipeline

/** The kernel, called single-threaded on the Spark driver through its public
  * functions: the golden check that runs before anything is timed, and
  * the per-layer timings of the traced run.
  */
object CoreLayer {
  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Kernel output on the sf0.001 pages against the golden TSV (url,
    * status, engine, pages, span count, span digest, base64 text): every
    * url's status, engine and text sha256 must match. Returns the
    * mismatching urls.
    */
  def goldenMismatches(docs: Array[Corpus.Doc], golden: Path): Seq[String] = {
    val conf = graft.SparkEntry.conf
    val want = Files.readAllLines(golden, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      val text = if (f.length > 6) new String(Base64.getDecoder.decode(f(6)), StandardCharsets.UTF_8) else ""
      f(0) -> (f(1), f(2), sha256(text))
    }.toMap
    val got = docs.map { d =>
      val p = PagesGen.row(d.id, d.text, d.lang)
      val pre = if (p.html.length > conf.maxBytes) Status.RejectedSize else null
      val r = ExtractPipeline.Kernel.process(p.url, p.html, pre, 0, conf)
      p.url -> (r.status, r.engine, sha256(r.text))
    }.toMap
    (want.keySet ++ got.keySet).toSeq.sorted.filter(u => want.get(u) != got.get(u))
  }

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Runs `f` over `n` docs for about `budgetS` seconds after a short
    * warm-up; returns (ns per doc, allocated bytes per doc).
    */
  private def perDoc(n: Int, budgetS: Double)(f: Int => Unit): (Double, Double) = {
    for (i <- 0 until n) f(i)
    val tid = Thread.currentThread().getId
    val a0 = threads.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    var docs = 0L
    while (System.nanoTime() - t0 < budgetS * 1e9) { for (i <- 0 until n) f(i); docs += n }
    val ns = (System.nanoTime() - t0).toDouble
    (ns / docs, (threads.getThreadAllocatedBytes(tid) - a0).toDouble / docs)
  }

  private object NoSink extends Html.Sink {
    def startTag(name: String, selfClosing: Boolean): Unit = ()
    def endTag(name: String): Unit = ()
    def text(s: String, from: Int, to: Int): Unit = ()
  }

  /** Per-layer kernel cost on a fixed sample of batch payloads, plus the
    * single-thread docs/s of the whole kernel on the sample's mix.
    */
  def metrics(sample: Seq[Array[Byte]], budgetS: Double): (Seq[(String, Double)], Double) = {
    val html = sample.filter(ContentType.detect(_) == ContentType.Html).toArray
    val pdf = sample.filter(ContentType.detect(_) == ContentType.Pdf).toArray
    val decoded = html.map(Html.decode)
    val blocks = decoded.map(BlockBuilder.buildStreaming(_, Html.Deadline.unlimited))
    val content = blocks.map(b => BoilerplateClassifier.classify(b).map(x => (x.text, x.tagPath)))
    val parsed = pdf.map(Pdf.parseFile)
    val pages = parsed.map { case (o, t) => Pdf.pageContents(o, t) }
    val chunks = pages.map(_.map(Pdf.contentChunks(_, Html.Deadline.unlimited)))
    var sink = 0L
    val (decNs, decAl) = perDoc(html.length, budgetS) { i => sink += Html.decode(html(i)).length }
    val (tokNs, tokAl) = perDoc(html.length, budgetS) { i => Html.parse(decoded(i), NoSink) }
    val (bldNs, bldAl) = perDoc(html.length, budgetS) { i =>
      sink += BlockBuilder.buildStreaming(decoded(i), Html.Deadline.unlimited).length }
    val (clsNs, _) = perDoc(html.length, budgetS) { i => sink += BoilerplateClassifier.classify(blocks(i)).length }
    val (asmNs, _) = perDoc(html.length, budgetS) { i => sink += HtmlExtractor.assemble(content(i)).text.length }
    val (htmlNs, htmlAl) = perDoc(html.length, budgetS) { i =>
      sink += HtmlExtractor.extract(html(i), Html.Deadline.unlimited).text.length }
    val (parseNs, _) = perDoc(pdf.length, budgetS) { i => sink += Pdf.parseFile(pdf(i))._1.size }
    val (pagesNs, _) = perDoc(pdf.length, budgetS) { i => sink += Pdf.pageContents(parsed(i)._1, parsed(i)._2).length }
    val (chunkNs, _) = perDoc(pdf.length, budgetS) { i =>
      pages(i).foreach(c => sink += Pdf.contentChunks(c, Html.Deadline.unlimited).length) }
    val (xyNs, _) = perDoc(pdf.length, budgetS) { i => chunks(i).foreach(c => sink += Pdf.xyCut(c).length) }
    val (pdfNs, pdfAl) = perDoc(pdf.length, budgetS) { i =>
      sink += PdfExtractor.extract(pdf(i), Html.Deadline.unlimited).text.length }
    val all = sample.toArray
    val conf = graft.SparkEntry.conf
    val (mixNs, _) = perDoc(all.length, budgetS) { i =>
      val pre = if (all(i).length > conf.maxBytes) Status.RejectedSize else null
      sink += ExtractPipeline.Kernel.process("u", all(i), pre, 0, conf).text.length
    }
    if (sink == 42L) println("")
    (Seq(
      "core.decode.ns_per_doc" -> decNs, "core.decode.alloc_per_doc" -> decAl,
      "core.tokenize.ns_per_doc" -> tokNs, "core.tokenize.alloc_per_doc" -> tokAl,
      "core.build.ns_per_doc" -> math.max(0.0, bldNs - tokNs),
      "core.build.alloc_per_doc" -> math.max(0.0, bldAl - tokAl),
      "core.html.ns_per_doc" -> htmlNs, "core.html.alloc_per_doc" -> htmlAl,
      "core.classify.ns_per_doc" -> clsNs, "core.assemble.ns_per_doc" -> asmNs,
      "core.pdf.parse.ns_per_doc" -> parseNs, "core.pdf.pages.ns_per_doc" -> pagesNs,
      "core.pdf.chunks.ns_per_doc" -> chunkNs, "core.pdf.xycut.ns_per_doc" -> xyNs,
      "core.pdf.ns_per_doc" -> pdfNs, "core.pdf.alloc_per_doc" -> pdfAl,
    ), 1e9 / mixNs)
  }
}

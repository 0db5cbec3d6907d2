package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.LongType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Directives, Links, Meta}

/** Holds the output of the four attribute scanners (outlinks, images,
  * title/h1, page directives) to recorded SHA-256 digests, one per
  * scanner per corpus, the way `metadata-pin.tsv` holds the table
  * metadata. The corpora:
  *
  *   - `pages`: every HTML page PagesGen builds from the sf0.001
  *     documents (families A, B and C, and the oversized pages), scanned
  *     from their bytes so the charset decode is part of the pin;
  *   - `synthetic`: the `html` column of the directive queries (canonical,
  *     JSON-LD, refresh, og, hreflang, pub-date and title/og pages) over
  *     the same documents, read out of each query's plan and evaluated
  *     per doc_id;
  *   - `soup`: 2,000 seeded tag-soup strings over the attribute fuzz
  *     fragments, less two classes whose reading the one-tokenizer rule
  *     set decides: `<title>`/`</title>` (a title is RCDATA to every
  *     scanner, so markup after one is text, not tags) and the
  *     unbalanced quotes `<a href='un closed>` and `<b q="no-close>`
  *     (after one, a later quote can stand where an attribute name
  *     starts: a junk char to the tokenizer, where the old title/h1
  *     scanner opened a quoted run).
  *
  * A digest that moves means a scanner's output moved on one of these
  * inputs; re-record only for an intended change of a scanner's rules.
  */
class ScannerPinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("scanner-pin-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def render(d: Directives.PageDirectives): String =
    d.copy(og = Map.empty).toString + d.og.toSeq.sorted.mkString("og(", ",", ")")

  /** One line per scanner per page, from the page's string form. */
  private def scanners(pages: Seq[String]): Seq[(String, Iterator[String])] = Seq(
    "outlinks" -> pages.iterator.map(p => Links.outlinksOf(p).toString),
    "images" -> pages.iterator.map(p => Links.imagesOf(p).toString),
    "meta" -> pages.iterator.map(p => Meta.scan(p).toString),
    "directives" -> pages.iterator.map(p => render(Directives.scan(p))))

  private def documents: Seq[(Long, String, String)] = {
    val sq = spark; import sq.implicits._
    spark.read.parquet(s"${GoldenGen.CorpusDir}/documents.parquet")
      .select("doc_id", "text", "lang").as[(Long, String, String)]
      .collect().toSeq.sortBy(_._1)
  }

  private val directiveQueries = Seq("e35_page_directives", "e52_canonical_clusters",
    "e53_jsonld", "e54_meta_refresh", "e55_og_harvest", "e56_hreflang_reciprocity",
    "e36_hreflang_alternates", "e43_pub_dates", "e58_title_og_diff")

  /** The `html` column a query builds, evaluated for each doc_id. */
  private def htmlOf(query: String, ids: Seq[Long]): Seq[String] = {
    val plan = SparkEntry.queries(query)(spark, GoldenGen.CorpusDir).queryExecution.analyzed
    val html = plan.collect { case p: Project => p.projectList }.flatten
      .collectFirst { case a: Alias if a.name == "html" => a.child }
      .getOrElse(fail(s"$query builds no html column"))
    val bound = html.transform {
      case a: AttributeReference if a.name == "doc_id" => BoundReference(0, LongType, nullable = false)
    }
    ids.map(id => bound.eval(InternalRow(id)).toString)
  }

  private val soupFragments: IndexedSeq[String] = {
    val tags = Seq("p", "div", "a", "script", "style", "b", "article", "nav", "li", "ul", "td",
      "tr", "span", "h1", "br", "img", "textarea", "noscript", "x-custom", "q1")
    Vector(" ", "\t", "\n", "  ", "&amp;", "&lt;", "&nbsp;", "&#65;", "&#x42;", "&bogus;", "&",
      ";", "&#xZZ;", "<", ">", "</", "/>", "<!", "<!--", "-->", "<![CDATA[", "]]>", "<?", "?>",
      "<p attr=unquoted>", "<div =junk>",
      "éß€", "中文", "é", "﻿",
      "<a href='x'>", "<a href=\"/y z\">lnk</a>", "<a href=un>", "<a>", "</a>", "<A HREF='UP'>",
      "<a href='' rel=nofollow>", "<a href='#f'",
      "<img src='i.png'>", "<img src=j alt='k'>", "<img alt=only>", "</img>", "<IMG SRC=c/>",
      "<img", "<imgx src=no>",
      "<link rel=canonical href='/c'>", "<link rel='alternate' hreflang=de href=/de>",
      "<meta name=robots content='noindex, nofollow'>", "<meta property='og:title' content='t'>",
      "<meta http-equiv=refresh content='5;url=/r'>", "<time datetime='2026-01-02'>",
      "<h1>", "</h1>", "<h2 id=s>", "</h2>", "<h6>", "</h6>", "<h7>", "<table>", "</table>",
      "<tr>", "</tr>", "<td>", "</td>", "<th scope=row>", "</th>", "<caption>",
      "<script>", "</script>", "<script type='application/ld+json'>", "<style>", "</style>",
      "<textarea>", "</textarea>") ++
      tags.flatMap(t => Seq(s"<$t>", s"</$t>", s"<$t class='x' data-k=\"v\">", s"<$t/>"))
  }

  private def soup: Seq[String] = {
    val rnd = new scala.util.Random(20261020L)
    Seq.fill(2000) {
      Seq.fill(rnd.nextInt(61)) {
        if (rnd.nextInt(8) == 0) rnd.alphanumeric.take(rnd.nextInt(13)).mkString
        else soupFragments(rnd.nextInt(soupFragments.length))
      }.mkString
    }
  }

  test("attribute scanners' output over PagesGen, synthetic directive and soup pages equals the recorded digests") {
    val docs = documents
    val htmlKinds = Set("html", "oversize")
    val pageBytes = docs.collect { case (id, text, lang) if htmlKinds(gen.PagesGen.kindOf(id)) =>
      gen.PagesGen.payload(id, text, lang)
    }
    assert(pageBytes.nonEmpty)
    val fromBytes = Seq(
      "outlinks" -> pageBytes.iterator.map(b => Links.outlinks(b).toString),
      "images" -> pageBytes.iterator.map(b => Links.images(b).toString),
      "meta" -> pageBytes.iterator.map(b => Meta.metaOf(b).toString),
      "directives" -> pageBytes.iterator.map(b => render(Directives.directives(b))))
    val ids = docs.map(_._1)
    val synthetic = directiveQueries.flatMap(htmlOf(_, ids))
    val got = (fromBytes.map { case (k, ls) => s"pages\t$k" -> sha256(ls) } ++
      scanners(synthetic).map { case (k, ls) => s"synthetic\t$k" -> sha256(ls) } ++
      scanners(soup).map { case (k, ls) => s"soup\t$k" -> sha256(ls) }).toMap
    val recorded = {
      val in = getClass.getResourceAsStream("/scanner-pin.tsv")
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map { l => val Array(c, s, d) = l.split("\t", 3); s"$c\t$s" -> d }.toMap
      finally in.close()
    }
    val table = got.toSeq.sorted.map { case (k, d) => s"$k\t$d" }.mkString("\n")
    assert(got == recorded, s"\nscanner digests now:\n$table")
  }
}

package graftbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.Status
import graft.gen.PagesGen
import graft.spark.PageRow

/** Seeded page corpora over the bundled documents table.
  *
  * A page's bytes and its kind, HTML family and host are pure functions of
  * its doc id (PagesGen). A replica shifts every doc id by a seeded offset
  * inside its own million, so a seed moves each document to another kind,
  * family and host while the mix stays the PagesGen mix: HTML families
  * A/B/C ~85 %, PDF ~9 %, junk/oversize ~6 %, re-crawl duplicates ~5 %,
  * ~30 % of rows on one skewed host. Replicas never share a doc id.
  */
object Corpus {
  final case class Doc(id: Long, text: String, lang: String)

  def loadDocs(spark: SparkSession, path: String): Array[Doc] = {
    import spark.implicits._
    spark.read.parquet(path).select("doc_id", "text", "lang").as[(Long, String, String)]
      .collect().map { case (i, t, l) => Doc(i, t, l) }.sortBy(_.id)
  }

  def offsets(seed: Long, stream: Long, replicas: Int): Array[Long] = {
    val rnd = new scala.util.Random(seed * 1000003L + stream)
    Array.tabulate(replicas)(k => (k + 1).toLong * 1000000L + rnd.nextInt(900000))
  }

  /** The status each doc id must end in: the PagesGen taxonomy. */
  def expectedStatus(docId: Long): String = PagesGen.kindOf(docId) match {
    case "junk"     => Status.RejectedFormat
    case "oversize" => Status.RejectedSize
    case _          => Status.Ok
  }

  final case class Expect(rows: Long, byStatus: Map[String, Long])

  def expect(docIds: Iterator[Long]): Expect = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    var n = 0L
    docIds.foreach { id => n += 1; val s = expectedStatus(id); m(s) = m.getOrElse(s, 0L) + 1 }
    Expect(n, m.toMap)
  }

  /** Batch pages: every document under each offset, re-crawl duplicates
    * emitted twice, one task per replica.
    */
  def batchPages(spark: SparkSession, docs: Array[Doc], offs: Seq[Long]): Dataset[PageRow] = {
    import spark.implicits._
    val bd = spark.sparkContext.broadcast(docs)
    spark.createDataset(offs).repartition(offs.size).flatMap { off =>
      bd.value.iterator.flatMap { d =>
        val r = PagesGen.row(d.id + off, d.text, d.lang)
        if (PagesGen.isDup(d.id + off)) Iterator(r, r) else Iterator(r)
      }
    }
  }

  /** Stream pages tagged with their file index. Each file lists
    * (index into `docs`, page doc id) pairs; there are no duplicates, so
    * every url belongs to exactly one file.
    */
  def streamPages(spark: SparkSession, docs: Array[Doc], files: Seq[(Int, Seq[(Int, Long)])])
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val bd = spark.sparkContext.broadcast(docs)
    spark.createDataset(files.flatMap { case (f, pages) => pages.map { case (i, id) => (f, i, id) } })
      .map { case (f, i, id) =>
        val d = bd.value(i)
        val r = PagesGen.row(id, d.text, d.lang)
        (f, r.url, r.warc_ts, r.html, r.text, r.lang)
      }
      .toDF("file_idx", "url", "warc_ts", "html", "text", "lang")
  }
}

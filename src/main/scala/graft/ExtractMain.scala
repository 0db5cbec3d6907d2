package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.gen.PagesGen
import graft.spark._

/** spark-submit entry point — the whole job as one run (SURVEY.md par 3.4):
  * build session → resolve resume point from the ledger → extract →
  * per-bucket atomic commits with lineage + throughput snapshot → metrics.
  *
  * The extraction shuffle takes its width from `spark.sql.shuffle.partitions`
  * plus AQE coalescing (see [[graft.spark.ExtractPipeline]]). The metrics
  * are the whole table's (engine, status) counts, summed from the bucket
  * ledgers the commit just wrote: O(#buckets) per run, never a rescan of
  * `data/`.
  *
  * This replaces the reference's service lifecycle
  * (/root/reference/src/main.py:78-122: discover engines → register
  * routes → serve → graceful shutdown) with a resumable batch job: a
  * killed run leaves only staging garbage, and the next invocation with
  * the same --table processes exactly the uncommitted buckets
  * (north_rule: "resumes from the last committed partition").
  *
  * Usage:
  *   spark-submit --class graft.ExtractMain <jar> \
  *     --input <pages.parquet | sfDir with documents.parquet> \
  *     --table <results table root> \
  *     [--run-id <id>] [--buckets 32] [--salt 4] [--max-bytes 65536] \
  *     [--max-link-density 0.33] [--min-words-dense 10] \
  *     [--x-gap 60.0] [--y-gap 25.0] \
  *     [--expire-ttl-hours 48] [--fail-after-buckets K (test hook)]
  */
object ExtractMain {

  final case class Args(
      input: String = "",
      table: String = "",
      runId: String = s"run-${System.currentTimeMillis()}",
      buckets: Int = 32,
      salt: Int = 4,
      maxBytes: Long = 64L * 1024,
      maxLinkDensity: Double = graft.core.HtmlParams().maxLinkDensity,
      minWordsDense: Int = graft.core.HtmlParams().minWordsDense,
      xGap: Double = graft.core.PdfParams().xGap,
      yGap: Double = graft.core.PdfParams().yGap,
      expireTtlHours: Option[Long] = None,
      failAfterBuckets: Option[Int] = None,
  )

  def parse(argv: Array[String]): Args = {
    @annotation.tailrec
    def loop(rest: List[String], a: Args): Args = rest match {
      case "--input" :: v :: t            => loop(t, a.copy(input = v))
      case "--table" :: v :: t            => loop(t, a.copy(table = v))
      case "--run-id" :: v :: t           => loop(t, a.copy(runId = v))
      case "--buckets" :: v :: t          => loop(t, a.copy(buckets = v.toInt))
      case "--salt" :: v :: t             => loop(t, a.copy(salt = v.toInt))
      case "--max-bytes" :: v :: t        => loop(t, a.copy(maxBytes = v.toLong))
      case "--max-link-density" :: v :: t => loop(t, a.copy(maxLinkDensity = v.toDouble))
      case "--min-words-dense" :: v :: t  => loop(t, a.copy(minWordsDense = v.toInt))
      case "--x-gap" :: v :: t            => loop(t, a.copy(xGap = v.toDouble))
      case "--y-gap" :: v :: t            => loop(t, a.copy(yGap = v.toDouble))
      case "--expire-ttl-hours" :: v :: t => loop(t, a.copy(expireTtlHours = Some(v.toLong)))
      case "--fail-after-buckets" :: v :: t => loop(t, a.copy(failAfterBuckets = Some(v.toInt)))
      case Nil                            => a
      case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
    }
    val a = loop(argv.toList, Args())
    require(a.input.nonEmpty, "--input is required")
    require(a.table.nonEmpty, "--table is required")
    a
  }

  /** Pages source: a pages-shaped parquet, or an sfDir containing
    * documents.parquet to synthesize from (sandbox corpora, FIXTURES.md).
    */
  def loadPages(spark: SparkSession, input: String): Dataset[PageRow] = {
    import spark.implicits._
    val docs = new java.io.File(s"$input/documents.parquet")
    if (docs.exists()) PagesGen.fromDocuments(spark, input)
    else spark.read.parquet(input).as[PageRow]
  }

  /** The run, factored for tests: returns (committed buckets this run,
    * rows committed this run).
    */
  def runJob(spark: SparkSession, a: Args): (Seq[LakehouseIO.BucketLedger], Long) = {
    implicit val s: SparkSession = spark
    // param validation happens HERE at plan build (HtmlParams/PdfParams
    // require = the reference's 400-before-processing path)
    val conf = ExtractConf(maxBytes = a.maxBytes, buckets = a.buckets, salt = a.salt,
      htmlParams = graft.core.HtmlParams(a.maxLinkDensity, a.minWordsDense),
      pdfParams = graft.core.PdfParams(a.xGap, a.yGap))
    val pages = loadPages(spark, a.input)
    val todo = LakehouseIO.resumeFilter(ExtractPipeline.prepared(pages, conf), a.table)
    val results = ExtractPipeline.extractFrom(todo, conf)
    val ledgers = LakehouseIO.writeCommitted(results, a.table, a.runId, a.input, a.failAfterBuckets)
    MetricsStage.writeFromLedgers(a.table, a.runId)
    (ledgers, ledgers.map(_.rows).sum)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val builder = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    // master comes from spark-submit on a cluster; default local for dev
    val spark = (if (sys.props.get("spark.master").isEmpty && sys.env.get("SPARK_MASTER").isEmpty)
      builder.master("local[*]").config("spark.sql.shuffle.partitions", "32")
    else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      a.expireTtlHours.foreach { h =>
        val n = LakehouseIO.expire(a.table, h * 3600L * 1000L)
        println(MetaJson.write(MetaJson.obj("event" -> "expire", "removed" -> n)))
      }
      val t0 = System.nanoTime()
      val (ledgers, rows) = runJob(spark, a)
      println(runSummary(a.runId, ledgers.size, rows, (System.nanoTime() - t0) / 1e9))
    } finally spark.stop()
  }

  /** The run summary line — the health-endpoint analog (SURVEY.md par
    * 2.7 item 37).
    */
  def runSummary(runId: String, bucketsCommitted: Int, rows: Long, sec: Double): String =
    MetaJson.write(MetaJson.obj("event" -> "run_summary", "run_id" -> runId,
      "buckets_committed" -> bucketsCommitted, "rows" -> rows, "wall_sec" -> sec,
      "docs_per_sec" -> (if (sec > 0) rows / sec else 0.0)))
}

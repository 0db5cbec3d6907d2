package graftbench

import java.nio.file.Path
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.ExtractMain
import graft.core.{HtmlParams, PdfParams}
import graft.spark._

/** Everything a workload needs from the run. */
final class Ctx(
    val spark: SparkSession,
    val work: Path,
    val seed: Long,
    val seconds: Double,
    val tracer: Tracer,
    val tasks: TaskLedger,
    val corrupt: Option[String],
    val docs: Array[Corpus.Doc],
    val benchDir: Path,
) {
  def drainBus(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

/** What a workload hands back: operations attempted and failed, and its
  * metrics by name.
  */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, Double)])

/** batch_extract: closed loop, one job at a time, each job what
  * `ExtractMain.runJob` does (prepared -> resumeFilter -> extractFrom ->
  * writeCommitted -> MetricsStage.write) into a fresh table, over a
  * seeded replicated corpus.
  */
object Batch {
  val Replicas = 15
  val Slices = 5 // the corpus is set up in this many equal slices, each timed
  val SampleSize = 24
  val MinJobs = 3 // the reported throughput is the median job's
  val WarmUpJobs = 3

  /** The corpus is `Slices` directories under `corpus`; a job reads them
    * all through one glob.
    */
  final case class Setup(corpus: String, ids: Array[Long], expect: Corpus.Expect, sliceS: Seq[Double]) {
    def setupS: Double = Slices * Stats.median(sliceS)
    def input: String = s"$corpus/slice-*"
  }

  def setup(c: Ctx): Setup = {
    val offs = Corpus.offsets(c.seed, 1, Replicas)
    val corpus = c.work.resolve("batch-corpus").toString
    val sliceS = offs.grouped(Replicas / Slices).toSeq.zipWithIndex.map { case (part, i) =>
      val t0 = System.nanoTime()
      Corpus.batchPages(c.spark, c.docs, part.toSeq).write.parquet(s"$corpus/slice-$i")
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(sliceS.map(t => f"$t%.2f").mkString("[bench] batch set-up slices (s): ", " ", ""))
    // ids(j) is a page of c.docs(j % c.docs.length)
    val ids = for (off <- offs; d <- c.docs) yield d.id + off
    Setup(corpus, ids, Corpus.expect(ids.iterator), sliceS)
  }

  def args(s: Setup, table: String, runId: String): ExtractMain.Args =
    ExtractMain.Args(input = s.input, table = table, runId = runId)

  /** `n` untimed jobs over `input`, each into a fresh table; their times. */
  def untimedJobs(c: Ctx, input: String, n: Int, tag: String): Seq[Double] = (0 until n).map { i =>
    val a = ExtractMain.Args(input = input, table = c.work.resolve(s"batch-$tag-$i").toString,
      runId = s"bench-$tag-$i")
    val t0 = System.nanoTime()
    ExtractMain.runJob(c.spark, a)
    val sec = (System.nanoTime() - t0) / 1e9
    Dirs.deleteTree(java.nio.file.Paths.get(a.table))
    sec
  }

  /** Warm-up: `WarmUpJobs` untimed jobs, the same as a timed one (JIT,
    * codegen, page cache). Job time keeps falling for 15-20 jobs (one run
    * of ten: 12.1, 7.0, 5.6, 5.5, 5.8, 5.2, 5.0, 4.8, 4.4, 4.5 s), longer
    * than a run can afford, so the rest of the warm-up stays in the timed
    * window. Small warm-up jobs do not help: five over 5k docs took as long
    * as three full jobs and left the timed jobs no faster than one full
    * warm-up job had, because most of what warms is the data path, not
    * the per-job fixed path.
    */
  def warmUp(c: Ctx, s: Setup): Unit = {
    val times = untimedJobs(c, s.input, WarmUpJobs, "warmup")
    System.err.println(times.map(t => f"$t%.2f").mkString("[bench] batch warm-up jobs (s): ", " ", ""))
  }

  /** The time of a warm job over one replica (5k docs), the second of two
    * such jobs: mostly the fixed cost of a job.
    */
  def smallJobS(c: Ctx): Double = {
    val corpus = c.work.resolve("batch-small-corpus").toString
    Corpus.batchPages(c.spark, c.docs, Corpus.offsets(c.seed, 3, 1).toSeq).write.parquet(corpus)
    val times = untimedJobs(c, corpus, 2, "small")
    Dirs.deleteTree(java.nio.file.Paths.get(corpus))
    times.last
  }

  /** The same steps as `ExtractMain.runJob`, each inside a span. */
  def tracedJob(c: Ctx, a: ExtractMain.Args): Long = {
    implicit val spark: SparkSession = c.spark
    val t = c.tracer
    t.span("batch.job") {
      val conf = ExtractConf(maxBytes = a.maxBytes, buckets = a.buckets, salt = a.salt,
        htmlParams = HtmlParams(a.maxLinkDensity, a.minWordsDense),
        pdfParams = PdfParams(a.xGap, a.yGap))
      val pages = ExtractMain.loadPages(spark, a.input)
      val todo = t.span("lakehouse.resume_filter") {
        LakehouseIO.resumeFilter(ExtractPipeline.prepared(pages, conf), a.table)
      }
      val results = ExtractPipeline.extractFrom(todo, conf)
      val ledgers = t.span("lakehouse.write_committed") {
        LakehouseIO.writeCommitted(results, a.table, a.runId, a.input, a.failAfterBuckets)
      }
      t.span("lakehouse.metrics_write") {
        MetricsStage.write(LakehouseIO.readResults(a.table).as[ResultRow](Encoders.product[ResultRow]),
          a.table, a.runId)
      }
      ledgers.map(_.rows).sum
    }
  }

  /** Untimed output check of one committed table: row and per-status
    * counts against the taxonomy predicted from the doc ids, and a seeded
    * sample of (url, text) rows against a direct kernel call.
    */
  def check(c: Ctx, s: Setup, a: ExtractMain.Args, rows: Long, job: Int): Seq[String] = {
    val spark = c.spark
    import spark.implicits._
    val problems = Seq.newBuilder[String]
    if (rows != s.expect.rows) problems += s"committed $rows rows, expected ${s.expect.rows}"
    val counts = spark.read.parquet(s"${a.table}/_metrics/status_counts")
      .groupBy("status").agg(sum("n")).as[(String, Long)].collect().toMap
    if (counts != s.expect.byStatus) problems += s"status counts $counts, expected ${s.expect.byStatus}"
    val rnd = new scala.util.Random(c.seed * 31 + job)
    val want = Seq.fill(SampleSize)(rnd.nextInt(s.ids.length)).map { j =>
      val d = c.docs(j % c.docs.length)
      val p = graft.gen.PagesGen.row(s.ids(j), d.text, d.lang)
      val pre = if (p.html.length > a.maxBytes) graft.core.Status.RejectedSize else null
      p.url -> ExtractPipeline.Kernel.process(p.url, p.html, pre, 0, ExtractConf(maxBytes = a.maxBytes)).text
    }.toMap
    val got = LakehouseIO.readResults(a.table)(spark).filter(col("url").isin(want.keys.toSeq: _*))
      .select("url", "text").as[(String, String)].collect().toMap
    want.foreach { case (u, t) =>
      if (!got.get(u).contains(t)) problems += s"$u: committed text differs from the kernel's"
    }
    problems.result()
  }

  def run(c: Ctx): Outcome = {
    val s = setup(c)
    var attempted, failed = 0L
    val rates = Seq.newBuilder[Double]
    val times = Seq.newBuilder[Double]
    var spent = 0.0
    var job = 0
    def once(): Unit = {
      val a = args(s, c.work.resolve(s"batch-table-$job").toString, s"bench-$job")
      val t0 = System.nanoTime()
      val res = try Right(ExtractMain.runJob(c.spark, a)._2) catch { case e: Exception => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      val problems = res.fold(e => Seq(s"job threw $e"), rows => check(c, s, a, rows, job))
      attempted += 1
      spent += sec
      System.err.println(f"[bench] batch job $job: ${res.getOrElse(-1L)} rows in $sec%.2f s")
      if (problems.nonEmpty) { failed += 1; problems.foreach(p => System.err.println(s"[bench] batch job $job: $p")) }
      else res.foreach { rows => times += sec; rates += rows / sec }
      Dirs.deleteTree(java.nio.file.Paths.get(a.table))
      job += 1
    }
    warmUp(c, s)
    while (spent < c.seconds || job < MinJobs) once()
    val ts = times.result()
    Outcome(attempted, failed, Seq(
      "throughput_per_s" -> Stats.median(rates.result()),
      "batch_extract.job_s_p50" -> Stats.median(ts),
      "setup_s" -> s.setupS,
    ))
  }
}

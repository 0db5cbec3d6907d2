package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.spark.ExtractConf
import graft.streaming.StreamingExtract

/** stream_ingest: an open loop at a fixed offered file rate. Page files
  * are generated during set-up; one generator thread publishes them on
  * schedule, by atomic rename, into the directory `StreamingExtract.start`
  * watches with a ProcessingTime trigger. A file's latency runs from its
  * due time to the end of the micro-batch that committed it.
  */
object Stream {
  val FilesPerSec = 4.0
  val RowsPerFile = 30
  val Primers = 2  // files published one at a time, each waiting for its commit, before the schedule starts
  val WarmS = 3.0  // scheduled files due in the first WarmS seconds are not measured
  val TriggerMs = 200L
  val Slices = 3

  /** `rows` counts the rows actually written, which the test hook makes
    * one fewer than the urls expected.
    */
  final case class Setup(files: IndexedSeq[Path], urls: IndexedSeq[Seq[String]], rows: Long,
      sliceS: Seq[Double]) {
    def setupS: Double = Slices * Stats.median(sliceS)
  }

  def setup(c: Ctx, measureS: Double): Setup = {
    val nFiles = Primers + math.ceil((WarmS + measureS) * FilesPerSec).toInt
    val replicas = math.ceil(nFiles.toDouble * RowsPerFile / c.docs.length).toInt
    val pages = for (off <- Corpus.offsets(c.seed, 2, replicas).toSeq; i <- c.docs.indices)
      yield (i, c.docs(i).id + off)
    // the seed fixes which pages each file holds and so the order they arrive in
    val files = new scala.util.Random(c.seed * 7 + 2).shuffle(pages).take(nFiles * RowsPerFile)
      .grouped(RowsPerFile).toIndexedSeq
    val urls = files.map(_.map { case (_, id) => graft.gen.PagesGen.urlOf(id) })
    // a test hook: one url is dropped from the first measured file but still expected
    val dropped = c.corrupt.filter(_ == "drop-url").map(_ => urls(firstMeasured).head)
    val staging = c.work.resolve("stream-staging")
    val bounds = (0 to Slices).map(_ * nFiles / Slices)
    val sliceS = (0 until Slices).map { s =>
      val t0 = System.nanoTime()
      val part = (bounds(s) until bounds(s + 1)).map(f => f -> files(f))
      Corpus.streamPages(c.spark, c.docs, part)
        .filter(dropped.map(u => col("url") =!= u).getOrElse(lit(true)))
        .repartition(c.spark.sparkContext.defaultParallelism, col("file_idx"))
        .write.partitionBy("file_idx").parquet(staging.resolve(s"slice-$s").toString)
      (System.nanoTime() - t0) / 1e9
    }
    val paths = (0 until nFiles).map { f =>
      val s = bounds.lastIndexWhere(_ <= f)
      val dir = staging.resolve(s"slice-$s").resolve(s"file_idx=$f")
      val ls = Files.list(dir)
      try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq match {
        case Seq(p) => p
        case other => throw new IllegalStateException(s"file $f has ${other.size} parquet parts")
      } finally ls.close()
    }
    Setup(paths, urls, urls.map(_.size.toLong).sum - dropped.size, sliceS)
  }

  /** Index of the first file due inside the measured window. */
  val firstMeasured: Int = Primers + math.ceil(WarmS * FilesPerSec).toInt

  final case class Result(attempted: Long, failed: Long, latencies: Seq[Double], throughput: Double,
      layer: Seq[(String, Double)])

  /** Publish every file on schedule and wait until all are committed. */
  def measure(c: Ctx, s: Setup): Result = {
    val spark = c.spark
    import spark.implicits._
    val in = c.work.resolve("stream-in")
    val table = c.work.resolve("stream-table").toString
    Files.createDirectories(in)
    val batches = new BatchLedger
    spark.streams.addListener(batches)
    val n = s.files.size
    val due = new Array[Long](n)
    val published = new Array[Long](n)
    val q = StreamingExtract.start(spark, in.toString, table, ExtractConf(),
      Trigger.ProcessingTime(TriggerMs))
    def publish(f: Int): Unit = {
      Files.move(s.files(f), in.resolve(f"f-$f%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      published(f) = System.currentTimeMillis()
    }
    def awaitRows(rows: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (batches.all.map(_.rows).sum < rows && q.exception.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    }
    // warm-up: the first micro-batches of a fresh query are the slowest
    // (4-10 s); priming them one file at a time keeps that out of the
    // schedule, so no backlog from them reaches the measured window
    for (f <- 0 until Primers) {
      due(f) = System.currentTimeMillis()
      publish(f)
      awaitRows(s.urls.take(f + 1).map(_.size.toLong).sum)
    }
    val t0 = System.currentTimeMillis() + 200
    val gen = new Thread(() => {
      for (f <- Primers until n) {
        due(f) = t0 + math.round((f - Primers) * 1000 / FilesPerSec)
        val wait = due(f) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(f)
      }
    }, "bench-stream-generator")
    gen.start()
    gen.join()
    awaitRows(s.rows)
    q.stop()
    q.exception.foreach(e => throw e)
    c.drainBus()
    spark.streams.removeListener(batches)

    // untimed output check: every published url committed exactly once
    val byBatch = batches.all.map(b => b.id -> b).toMap
    val committed = StreamingExtract.readAll(spark, table)
      .select(col("url"), regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
      .as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val windowStart = t0 + math.round(WarmS * 1000)
    val measured = firstMeasured until n
    var failed = 0L
    val ok = measured.flatMap { f =>
      val seen = s.urls(f).map(u => committed.getOrElse(u, Array.empty[Long]).toSeq)
      val ids = seen.flatten.distinct
      if (seen.exists(_.size != 1) || ids.size != 1 || !byBatch.contains(ids.head)) {
        failed += 1
        System.err.println(s"[bench] stream file $f: urls not committed exactly once in one batch")
        None
      } else Some((f, byBatch(ids.head)))
    }
    val latencies = ok.map { case (f, b) => (b.endMs - due(f)) / 1e3 }
    batches.all.foreach { b =>
      System.err.println(f"[bench] stream batch ${b.id} rows=${b.rows} at=${(b.startMs - t0) / 1e3}%.2f s " +
        f"took=${b.durations.getOrElse("triggerExecution", 0L) / 1e3}%.2f s")
    }
    val inWindow = batches.all.filter(_.startMs >= windowStart)
    val commitMs = ok.map { case (f, b) => f -> b.endMs }.toMap
    def p50(k: String) = Stats.median(inWindow.map(_.durations.getOrElse(k, 0L) / 1e3))
    val layer = if (inWindow.isEmpty || ok.isEmpty) Nil else Seq(
      "streaming.batches" -> inWindow.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(inWindow.map(_.rows.toDouble)),
      "streaming.trigger_s_p50" -> p50("triggerExecution"),
      "streaming.add_batch_s_p50" -> p50("addBatch"),
      "streaming.planning_s_p50" -> p50("queryPlanning"),
      "streaming.wal_commit_s_p50" -> p50("walCommit"),
      "streaming.queue_wait_s_p50" -> Stats.median(ok.map { case (f, b) => (b.startMs - due(f)) / 1e3 }),
      "streaming.backlog_files_max" -> inWindow.map { b =>
        (0 until n).count(f => published(f) <= b.startMs && commitMs.getOrElse(f, Long.MaxValue) > b.startMs)
          .toDouble
      }.max,
      "streaming.gen_late_s_max" -> (0 until n).map(f => (published(f) - due(f)) / 1e3).max,
      "streaming.latency_p50_s" -> Stats.median(latencies),
      "streaming.latency_p95_s" -> Stats.quantile(latencies, 0.95),
    )
    // rows committed per second, between batch ends: from the end of the
    // last batch before the window to the end of the last batch in it
    val all = batches.all.sortBy(_.startMs)
    val before = all.filter(_.startMs < windowStart)
    val throughput =
      if (inWindow.isEmpty || before.isEmpty) 0.0
      else inWindow.map(_.rows).sum / ((inWindow.map(_.endMs).max - before.map(_.endMs).max) / 1e3)
    Result(measured.size, failed, latencies, throughput, layer)
  }

  def run(c: Ctx): Outcome = {
    val s = setup(c, c.seconds)
    val r = measure(c, s)
    Outcome(r.attempted, r.failed, Seq(
      "throughput_per_s" -> r.throughput,
      "streaming.latency_p50_s" -> Stats.median(r.latencies),
      "setup_s" -> s.setupS,
      "stream_ingest.latency_samples" -> r.latencies.size.toDouble,
    ) ++ r.layer.filter(_._1 == "streaming.latency_p95_s"))
  }
}

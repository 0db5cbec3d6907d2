package graftbench

import java.nio.file.Paths
import graft.ExtractMain

/** The traced run: every layer, whatever workload is named, so each traced
  * run yields the full per-layer set. Spans and listeners are the only
  * instrumentation; end-to-end numbers never come from here.
  */
object Traced {
  val StreamS = 6.0

  def run(c: Ctx, fingerprints: Map[String, (Long, String)],
      record: scala.collection.mutable.Map[String, (Long, String)]): Outcome = {
    val m = Seq.newBuilder[(String, Double)]
    var attempted, failed = 0L
    val nproc = c.spark.sparkContext.defaultParallelism

    // core: single-thread, on a fixed sample of batch payloads
    val sample = c.docs.take(600).map(d => graft.gen.PagesGen.payload(d.id + 1000000L, d.text, d.lang))
    val (core, coreDocsPerS) = c.tracer.span("core") { CoreLayer.metrics(sample.toSeq, 0.25) }
    m ++= core

    // spark + lakehouse: warm-up jobs, a traced job, then an untraced one.
    // The traced job runs first, so what warm-up is left favours the
    // untraced job and the overhead reads high rather than low.
    val jb = new JvmWindow
    val s = c.tracer.span("gen.corpus") { Batch.setup(c) }
    m += "gen.corpus_s" -> s.sliceS.sum
    def job(i: Int, traced: Boolean): (Double, Long, ExtractMain.Args) = {
      val a = Batch.args(s, c.work.resolve(s"batch-table-$i").toString, s"bench-$i")
      val t0 = System.nanoTime()
      val rows = if (traced) Batch.tracedJob(c, a) else ExtractMain.runJob(c.spark, a)._2
      val sec = (System.nanoTime() - t0) / 1e9
      val problems = Batch.check(c, s, a, rows, i)
      attempted += 1
      if (problems.nonEmpty) { failed += 1; problems.foreach(p => System.err.println(s"[bench] batch job $i: $p")) }
      (sec, rows, a)
    }
    Batch.warmUp(c, s)
    m += "batch.small_job_s" -> Batch.smallJobS(c)
    c.drainBus()
    val before = c.tasks.mark
    val (tracedS, tracedRows, a2) = job(1, traced = true)
    c.drainBus()
    val (tasks, jobs) = c.tasks.since(before)
    val (plainS, plainRows, a1) = job(2, traced = false)
    Dirs.deleteTree(Paths.get(a1.table))
    val wc = c.tracer.closed("lakehouse.write_committed").last
    val writeJobs = jobs.filter(j => j.startMs >= wc.startMs && j.endMs <= wc.endMs)
    val writeStages = writeJobs.flatMap(_.stages).toSet
    val wt = tasks.filter(t => writeStages.contains(t.stage))
    val map = wt.filter(t => t.shWriteBytes > 0 && t.shReadBytes == 0)
    val red = wt.filter(_.shReadBytes > 0)
    val redDur = red.map(_.durMs.toDouble)
    val plainTput = plainRows / plainS
    m ++= Seq(
      "spark.map_stage.run_s" -> map.map(_.runMs).sum / 1e3,
      "spark.map_stage.cpu_s" -> map.map(_.cpuNs).sum / 1e9,
      "spark.map_stage.gc_s" -> map.map(_.gcMs).sum / 1e3,
      "spark.reduce_stage.run_s" -> red.map(_.runMs).sum / 1e3,
      "spark.reduce_stage.cpu_s" -> red.map(_.cpuNs).sum / 1e9,
      "spark.reduce_stage.skew" -> (if (redDur.isEmpty) 0.0 else redDur.max / math.max(1.0, Stats.median(redDur))),
      "spark.shuffle.write_bytes" -> map.map(_.shWriteBytes).sum.toDouble,
      "spark.shuffle.read_bytes" -> red.map(_.shReadBytes).sum.toDouble,
      "spark.shuffle.records" -> map.map(_.shWriteRecords).sum.toDouble,
      "spark.spill_bytes" -> wt.map(_.spillBytes).sum.toDouble,
      "spark.parallel_eff" -> plainTput / (nproc * coreDocsPerS),
    )
    val jobMs = writeJobs.map(j => j.endMs - j.startMs).sum
    val (files, bytes) = Dirs.parquetFilesAndBytes(Paths.get(a2.table, "data"))
    m ++= Seq(
      "lakehouse.write_committed_s" -> c.tracer.total("lakehouse.write_committed"),
      "lakehouse.commit_s" -> ((wc.endMs - wc.startMs) - jobMs) / 1e3,
      "lakehouse.metrics_write_s" -> c.tracer.total("lakehouse.metrics_write"),
      "lakehouse.resume_filter_s" -> c.tracer.total("lakehouse.resume_filter"),
      "lakehouse.files_written" -> files.toDouble,
      "lakehouse.bytes_written" -> bytes.toDouble,
      "trace.overhead_pct" -> (plainTput / (tracedRows / tracedS) - 1) * 100,
    )
    Dirs.deleteTree(Paths.get(a2.table))
    Dirs.deleteTree(Paths.get(s.corpus))
    m ++= jb.metrics("jvm.batch_extract")

    // streaming: a shorter open-loop window
    val js = new JvmWindow
    val ss = c.tracer.span("gen.stream_files") { Stream.setup(c, StreamS) }
    m += "gen.stream_files_s" -> ss.sliceS.sum
    val r = c.tracer.span("streaming.run") { Stream.measure(c, ss) }
    attempted += r.attempted
    failed += r.failed
    m ++= r.layer
    m ++= js.metrics("jvm.stream_ingest")

    // datapipe: one timed sweep after the warm-up sweep
    val jq = new JvmWindow
    val q = c.tracer.span("datapipe.sweep") { Query.sweep(c, fingerprints, 0.001, record, setupReps = 1) }
    attempted += q.attempted
    failed += q.failed
    c.drainBus()
    val (qt, _) = c.tasks.since(q.timedFrom)
    m ++= q.queries.filter(_.ok).map(t => s"datapipe.${t.name}.s" -> (t.planS + t.runS))
    m ++= Seq(
      "datapipe.plan_s" -> q.queries.map(_.planS).sum,
      "datapipe.stage_cpu_s" -> qt.map(_.cpuNs).sum / 1e9,
      "datapipe.shuffle_bytes" -> qt.map(_.shWriteBytes).sum.toDouble,
      "datapipe.gc_s" -> qt.map(_.gcMs).sum / 1e3,
    )
    m ++= jq.metrics("jvm.query_sweep")
    Outcome(attempted, failed, m.result())
  }
}

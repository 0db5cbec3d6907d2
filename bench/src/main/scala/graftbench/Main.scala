package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `run.py` builds the classpath and launches it.
  *
  *   --workload batch_extract|stream_ingest|query_sweep
  *   --seed N --seconds S --trace 0|1
  *   --bench DIR      the benchmark directory, inside the repository
  *   --corrupt fingerprint|drop-url   test hooks for the self-tests
  *   --record         rewrite queries.tsv from this run's outputs
  *
  * The last stdout line is the result object; the line before it carries
  * context metrics (host probe and anything not in the contract).
  */
object Main {
  val EndToEnd = Seq("throughput_per_s" -> "1/s", "setup_s" -> "s")
  val Workloads = Set("batch_extract", "stream_ingest", "query_sweep")

  def unit(name: String): String = {
    val last = name.split('.').last
    EndToEnd.toMap.getOrElse(name,
      if (name.contains("bytes") || last == "alloc_per_doc") "bytes"
      else if (last == "ns_per_doc") "ns"
      else if (last.endsWith("_gbps")) "GB/s"
      else if (last.endsWith("_pct")) "%"
      else if (last == "parallel_eff" || last == "skew") "ratio"
      else if (last == "s" || last.endsWith("_s") || last.contains("_s_")) "s"
      else "count")
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = opts.getOrElse("--workload", "")
    require(Workloads(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val bench = Paths.get(opts("--bench")).toAbsolutePath
    val repo = bench.getParent
    val corrupt = opts.get("--corrupt")
    val recording = argv.contains("--record")
    val work = bench.resolve("work").resolve(s"run-${ProcessHandle.current().pid()}")
    Dirs.deleteTree(work)
    Files.createDirectories(work)

    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"graft-bench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      System.err.println(f"[bench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $name")
    phase("session up")
    try {
      val tasks = new TaskLedger
      spark.sparkContext.addSparkListener(tasks)
      val tracer = new Tracer(s"$workload-$seed-${System.currentTimeMillis()}", trace)
      val host = HostProbe.run()

      // the kernel against its goldens, before anything is timed
      val golden = CoreLayer.goldenMismatches(
        Corpus.loadDocs(spark, bench.resolve("data/documents-sf0.001.parquet").toString),
        repo.resolve("src/test/resources/golden/sf0.001.tsv"))
      golden.take(5).foreach(u => System.err.println(s"[bench] golden mismatch: $u"))

      phase("golden check done")
      val docs = Corpus.loadDocs(spark, bench.resolve("data/documents-sf0.1.parquet").toString)
      val c = new Ctx(spark, work, seed, seconds, tracer, tasks, corrupt, docs, bench)
      val fpPath = bench.resolve("queries.tsv")
      val fingerprints = if (Files.exists(fpPath)) Query.loadFingerprints(fpPath) else Map.empty[String, (Long, String)]
      val record = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
      val out =
        if (trace) Traced.run(c, fingerprints, record)
        else workload match {
          case "batch_extract" => Batch.run(c)
          case "stream_ingest" => Stream.run(c)
          case "query_sweep"   => Query.run(c, fingerprints, record)
        }
      phase("workload done")
      if (recording) {
        val lines = Query.Names.map(n => record.get(n).map { case (r, h) => s"$n\t$r\t$h" }
          .getOrElse(throw new IllegalStateException(s"no output recorded for $n")))
        Files.write(fpPath, ("# query\trows\thash (see Query.fingerprint)\n" + lines.mkString("", "\n", "\n"))
          .getBytes(StandardCharsets.UTF_8))
      }
      if (trace) tracer.write(bench.resolve("out").resolve(s"trace-$workload-$seed.jsonl"))

      val failed = out.failed + (if (golden.nonEmpty) 1 else 0)
      val attempted = out.attempted + 1
      val (e2e, extra) = out.metrics.partition { case (k, _) => EndToEnd.exists(_._1 == k) }
      val (reported, context) = if (trace) (extra ++ host, e2e) else (e2e, extra ++ host)
      def metrics(ms: Seq[(String, Double)]) = Json.obj(ms.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> Json.str(unit(k))))
      })
      println(Json.obj(Seq("context" -> metrics(context))))
      println(Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> metrics(reported),
      )))
    } finally {
      spark.stop()
      Dirs.deleteTree(work)
    }
  }
}

package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spark.{ExtractConf, ExtractPipeline, MetaJson, PageRow}

/** Driver-run benchmark: times every SparkEntry query, then measures
  * sustained extraction throughput (docs/sec) on a replicated corpus —
  * the headline metric from BASELINE.md. One JSON line on stdout:
  * `queries` times the queries that ran, `failed` names the ones that
  * threw, and `total` sums `queries` only.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.ui.enabled", "false")
      // Tungsten sort/shuffle buffers off-heap: on-heap they outlive young
      // collections and promote, turning GC into the 32-thread bottleneck
      // (see ScalingBench.session)
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", "4g")
    // shuffle to tmpfs when it exists AND is big enough (containers often
    // mount a 64 MB /dev/shm — ENOSPC mid-job is worse than slow disk)
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.getUsableSpace > 4L * 1024 * 1024 * 1024)
      builder.config("spark.local.dir", "/dev/shm/graft-spark-bench")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up OUTSIDE the timed loop: absorb JVM/codegen/session one-time
    // costs so the first timed query isn't charged ~5s of warm-up (r1/r2
    // benches showed whichever query ran first inflated 5-10x)
    SparkEntry.entry(spark).count()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // Each query is timed from a clean cache state: several ops persist /
    // localCheckpoint intermediates that materialize under the caller's
    // action and can only be released by the caller afterwards. Left in
    // place they accumulate across the 41-query sweep, pin storage memory,
    // and inflate later queries 5-15x (r2 sweep: d9 45s dirty vs 2.7s
    // clean). Clearing between queries measures each op as a user running
    // it in a fresh job would see it.
    // min-of-2 passes per query: the host VM's effective CPU speed drifts
    // in multi-minute windows (BASELINE.md "Scaling evidence" — three
    // identical r2 sweeps measured 60/93/421 s), so a single pass can
    // charge a query 5-10x for landing in a slow window. The min of two
    // passes taken minutes apart is a far tighter estimator of the code's
    // cost, and also stops charging pass 1 for cold codegen.
    // A query that throws is recorded as failed, never as a time: a
    // failure that returned early would otherwise count as a fast query.
    def sweep(): Map[String, Option[Double]] = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      graft.spark.Caches.drain()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      name -> Option.when(ok)(dt)
    }
    val (s1, s2) = (sweep(), sweep())
    // failed in either pass = failed
    val results = s1.map { case (k, v) => k -> v.zip(s2(k)).map { case (a, b) => math.min(a, b) } }
    val timed = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }.toSeq.sorted
    val total = timed.values.sum

    // sustained-throughput measure: replicated corpus, kernel-dominated,
    // one warm-up pass then one timed pass
    val defaultReplicas = if (cpus.toInt >= 16) "120" else "40" // keep gen+run bounded on small drivers
    val replicas = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPLICAS", defaultReplicas).toInt
    val conf = ExtractConf(maxBytes = 64L * 1024, buckets = 64, salt = 2)
    implicit val s: SparkSession = spark
    import s.implicits._
    val corpus = "/tmp/graft_bench_corpus_v" + graft.gen.PagesGen.GenVersion + "_" +
      java.nio.file.Paths.get(sfDir).getFileName.toString + s"_$replicas"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(corpus, "_SUCCESS")))
      graft.gen.PagesGen.replicated(spark, sfDir, replicas)
        .write.mode("overwrite").parquet(corpus)
    def pass(): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = ExtractPipeline.run(spark.read.parquet(corpus).as[PageRow], conf)
        .toDF().agg(count(lit(1)), sum(length(col("text")))).collect()(0).getLong(0)
      (n, (System.nanoTime() - t0) / 1e9)
    }
    pass() // warm-up (JIT + page cache)
    // best-of-2 timed passes — same drift argument as the query sweep
    // (r2 evidence: identical binaries measured 5.7k/8.8k/28.7k docs/s
    // in single-pass runs minutes apart)
    val (d1, t1) = pass()
    val (d2, t2) = pass()
    val (docs, sec) = if (t1 <= t2) (d1, t1) else (d2, t2)
    val tput = docs / sec

    val json = MetaJson.write(MetaJson.obj("metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> MetaJson.obj(timed.toSeq: _*), "failed" -> failed, "sf" -> sfDir,
      "throughput_docs" -> docs, "throughput_sec" -> sec, "docs_per_sec" -> tput,
      "docs_per_sec_per_core" -> tput / cpus.toInt, "cores" -> cpus.toInt))
    println(json)
    // durable copy: sbt log decoration made the stdout line unparseable in
    // round 1 (BENCH_r01.json parsed:null) — a file survives any wrapper
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Base64
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.PagesGen
import graft.spark._
import graft.streaming.StreamingExtract

/** Spark integration layer (SURVEY.md par 5.2): status taxonomy, dedup,
  * golden byte-equality (the north_rule gate), resume-after-kill,
  * skew-salt balance, metrics, retention — mirrors the reference's
  * integration suite (tests/integration/api/v2/test_dynamic_process.py).
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"
  private def conf = SparkEntry.conf

  private lazy val results: Array[ResultRow] = {
    implicit val s: SparkSession = spark
    spark.sparkContext.setLogLevel("WARN")
    ExtractPipeline.run(PagesGen.fromDocuments(spark, sfDir), conf).collect()
  }

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(name: String): String = {
    val p = Files.createTempDirectory(s"graft-$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  // ------------------------------------------------------- status taxonomy

  test("status taxonomy matches the generator's kind distribution") {
    val ids = (0L until 500L).toSeq
    val expected = ids.map(PagesGen.kindOf).groupBy(identity).view.mapValues(_.size).toMap
    val got = results.groupBy(_.status).view.mapValues(_.length).toMap
    assert(got(core.Status.Ok) == expected("html") + expected("pdf"))
    assert(got(core.Status.RejectedFormat) == expected("junk"))
    assert(got(core.Status.RejectedSize) == expected("oversize"))
    assert(!got.contains(core.Status.Timeout) && !got.contains(core.Status.Error))
    // error codes ride along (error-as-data, parity with the 400/413 taxonomy)
    results.filter(_.status == core.Status.RejectedFormat)
      .foreach(r => assert(r.error_code == "unsupported_format"))
    results.filter(_.status == core.Status.RejectedSize)
      .foreach(r => assert(r.error_code == "file_too_large"))
  }

  test("dedup: re-crawled urls collapse to one result row") {
    assert(results.length == 500) // generator emits ~525 rows (dups for id%20==3)
    assert(results.map(_.url).distinct.length == results.length)
  }

  test("ok rows satisfy output invariants (hOCR validate parity)") {
    results.filter(_.status == core.Status.Ok).foreach { r =>
      assert(r.pages >= 1, r.url)
      assert(r.spans.nonEmpty, r.url)
      val pageSpans = r.spans.filter(_.kind == "page")
      assert(pageSpans.size == r.pages, r.url)
      r.spans.foreach(s => assert(s.begin >= 0 && s.end <= r.text.length && s.begin <= s.end))
    }
  }

  // ------------------------------------------------------------ golden gate

  test("GOLDEN: byte-identical extracted text + pinned spans per url") {
    val goldenPath = Paths.get(GoldenGen.GoldenPath)
    assert(Files.exists(goldenPath),
      s"golden file missing — run: sbt 'Test/runMain graft.GoldenGen'")
    val golden = Files.readAllLines(goldenPath, StandardCharsets.UTF_8)
    val byUrl = results.map(r => r.url -> r).toMap
    assert(golden.size == results.length, "row count drifted vs golden")
    golden.forEach { ln =>
      val Array(url, status, engine, pages, nSpans, spansSha, textB64) = ln.split("\t", 7)
      val r = byUrl.getOrElse(url, fail(s"url missing from results: $url"))
      assert(r.status == status, url)
      assert(r.engine == engine, url)
      assert(r.pages == pages.toInt, url)
      assert(r.spans.size == nSpans.toInt, url)
      assert(GoldenGen.spansDigest(r.spans) == spansSha, s"spans drifted: $url")
      val goldenBytes = Base64.getDecoder.decode(textB64)
      val gotBytes = r.text.getBytes(StandardCharsets.UTF_8)
      assert(java.util.Arrays.equals(gotBytes, goldenBytes),
        s"TEXT BYTES drifted: $url")
    }
  }

  test("golden gate both-ways except is empty (set equality)") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val got = spark.createDataset(results.toSeq.map(r => (r.url, r.text)))
      .toDF("url", "text")
    val golden = spark.createDataset(
      Files.readAllLines(Paths.get(GoldenGen.GoldenPath), StandardCharsets.UTF_8)
        .toArray(Array.empty[String]).toSeq.map { ln =>
          val f = ln.split("\t", 7)
          (f(0), new String(Base64.getDecoder.decode(f(6)), StandardCharsets.UTF_8))
        }).toDF("url", "text")
    assert(got.exceptAll(golden).isEmpty && golden.exceptAll(got).isEmpty)
  }

  // ----------------------------------------------------------------- resume

  test("resume: killed run re-processes only uncommitted buckets; output byte-identical") {
    implicit val s: SparkSession = spark
    val input = sfDir
    val full = tmpDir("full")
    val crashed = tmpDir("crashed")

    // uninterrupted reference run
    val (fullLedgers, _) = ExtractMain.runJob(spark,
      ExtractMain.Args(input = input, table = full, runId = "full-run",
        buckets = conf.buckets, salt = conf.salt, maxBytes = conf.maxBytes))
    assert(fullLedgers.nonEmpty)

    // run 1: crash injected after 3 bucket commits
    val crash = intercept[RuntimeException] {
      ExtractMain.runJob(spark,
        ExtractMain.Args(input = input, table = crashed, runId = "run-1",
          buckets = conf.buckets, salt = conf.salt, maxBytes = conf.maxBytes,
          failAfterBuckets = Some(3)))
    }
    assert(crash.getMessage.contains("injected failure"))
    val committedAfterCrash = LakehouseIO.committedBuckets(crashed)
    assert(committedAfterCrash.size == 3)

    // run 2: resume — must commit exactly the remaining buckets
    val (resumeLedgers, _) = ExtractMain.runJob(spark,
      ExtractMain.Args(input = input, table = crashed, runId = "run-2",
        buckets = conf.buckets, salt = conf.salt, maxBytes = conf.maxBytes))
    assert(resumeLedgers.map(_.bucket).toSet.intersect(committedAfterCrash).isEmpty,
      "resume re-committed an already-committed bucket")
    assert(LakehouseIO.committedBuckets(crashed) ==
      fullLedgers.map(_.bucket).toSet)

    // ledger lineage: run-1 rows survive, run-2 owns the rest
    val ledgerRuns = LakehouseIO.committedBuckets(crashed).toSeq.map { b =>
      val json = new String(Files.readAllBytes(
        Paths.get(LakehouseIO.ledgerDir(crashed).toUri.getPath, s"bucket-$b.json")), StandardCharsets.UTF_8)
      if (json.contains("\"run-1\"")) "run-1" else "run-2"
    }
    assert(ledgerRuns.count(_ == "run-1") == 3)

    // final output byte-identical to the uninterrupted run
    def snapshot(root: String): Array[(String, String, String, Int)] =
      LakehouseIO.readResults(root)
        .select("url", "text", "status", "pages")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
        .sortBy(_._1)
    assert(snapshot(crashed).sameElements(snapshot(full)))
  }

  test("resume: fully-committed table is a no-op (idempotent re-run)") {
    implicit val s: SparkSession = spark
    val root = tmpDir("noop")
    val (l1, _) = ExtractMain.runJob(spark,
      ExtractMain.Args(input = sfDir, table = root, runId = "a",
        buckets = conf.buckets, salt = conf.salt, maxBytes = conf.maxBytes))
    val (l2, rows2) = ExtractMain.runJob(spark,
      ExtractMain.Args(input = sfDir, table = root, runId = "b",
        buckets = conf.buckets, salt = conf.salt, maxBytes = conf.maxBytes))
    assert(l1.nonEmpty && l2.isEmpty && rows2 == 0)
  }

  // ------------------------------------------------------------------- skew

  test("salted repartition balances partitions despite the skewed host") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // the spine's own exchange, uncoalesced so every reduce task shows:
    // its width is the session's shuffle-partition count
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    val parts =
      try ExtractPipeline.run(PagesGen.fromDocuments(spark, sfDir), conf)
        .mapPartitions(it => Iterator.single(it.size))
        .collect()
      finally spark.conf.unset(coalesce)
    assert(parts.length == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val nonEmpty = parts.filter(_ > 0)
    val mean = nonEmpty.sum.toDouble / nonEmpty.length
    assert(nonEmpty.max <= mean * 3 + 8,
      s"partition skew: max=${nonEmpty.max} mean=$mean")
  }

  // ---------------------------------------------------------------- metrics

  test("metrics: status counts and size histogram aggregate correctly") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val ds = spark.createDataset(results.toSeq)
    val counts = MetricsStage.statusCounts(ds).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = results.groupBy(r => (r.engine, r.status)).view.mapValues(_.length.toLong)
    expected.foreach { case (k, v) => assert(counts(k) == v, k) }
    assert(MetricsStage.timeouts(ds).collect().isEmpty)
    val hist = MetricsStage.sizeHistogram(
      PagesGen.fromDocuments(spark, sfDir).toDF()).collect()
    assert(hist.map(_.getLong(1)).sum == 525) // pre-dedup rows incl. re-crawls
  }

  /** `_metrics/status_counts` as one run wrote it. */
  private def metricsOf(root: String, runId: String): Map[(String, String), Long] =
    spark.read.parquet(s"$root/_metrics/status_counts").filter(col("run_id") === runId)
      .select("engine", "status", "n").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  /** Whole-table status counts by rescanning `data/`. */
  private def rescanCounts(root: String): Map[(String, String), Long] = {
    implicit val s: SparkSession = spark
    MetricsStage.statusCounts(
      LakehouseIO.readResults(root).as[ResultRow](org.apache.spark.sql.Encoders.product[ResultRow]))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  private def job(table: String, runId: String, failAfterBuckets: Option[Int] = None) =
    ExtractMain.runJob(spark, ExtractMain.Args(input = sfDir, table = table, runId = runId,
      buckets = conf.buckets, salt = conf.salt, maxBytes = conf.maxBytes,
      failAfterBuckets = failAfterBuckets))

  test("metrics from the ledgers equal a rescan: fresh run, crash + resume, applyChanges + no-op run") {
    implicit val s: SparkSession = spark
    val sq = spark; import sq.implicits._
    val fresh = tmpDir("metrics-fresh")
    job(fresh, "m1")
    val whole = rescanCounts(fresh)
    assert(whole.values.sum == results.length)
    assert(metricsOf(fresh, "m1") == whole)

    val crashed = tmpDir("metrics-crash")
    intercept[RuntimeException](job(crashed, "c1", failAfterBuckets = Some(3)))
    job(crashed, "c2")
    assert(metricsOf(crashed, "c2") == whole, "a resumed run reports the whole table")

    // flip one ok row to an error and delete another: the rewritten
    // ledgers carry the new counts, and a no-op run publishes them
    val enc = org.apache.spark.sql.Encoders.product[ResultRow]
    val Array(flip, gone) = results.filter(_.status == core.Status.Ok).take(2)
    LakehouseIO.applyChanges(fresh,
      spark.createDataset(Seq(flip.copy(status = core.Status.Error, error_code = "x")))(enc),
      Seq((gone.url, gone.bucket)).toDF("url", "bucket"), "chg")
    val (noop, _) = job(fresh, "m2")
    assert(noop.isEmpty)
    val changed = rescanCounts(fresh)
    assert(changed != whole)
    assert(metricsOf(fresh, "m2") == changed)
  }

  test("the metrics write reads no file under data/") {
    implicit val s: SparkSession = spark
    val root = tmpDir("metrics-no-data")
    job(root, "d1")
    val want = rescanCounts(root)
    val data = Paths.get(LakehouseIO.dataDir(root).toUri.getPath)
    val aside = data.resolveSibling("data-aside")
    Files.move(data, aside)
    try MetricsStage.writeFromLedgers(root, "d2")
    finally Files.move(aside, data)
    assert(metricsOf(root, "d2") == want)
  }

  test("a ledger without status counts fails loudly") {
    implicit val s: SparkSession = spark
    val root = tmpDir("ledger-old")
    job(root, "o1")
    val b = LakehouseIO.committedBuckets(root).min
    LakehouseIO.atomicWrite(new org.apache.hadoop.fs.Path(LakehouseIO.ledgerDir(root), s"bucket-$b.json"),
      s"""{"bucket":$b,"run_id":"o1","rows":3,"ok_rows":3,"committed_at_ms":1}""")
    val e = intercept[java.io.IOException](MetricsStage.writeFromLedgers(root, "o2"))
    assert(e.getMessage.contains("missing status_counts"))
  }

  test("run ids round-trip through writeCommitted -> bucketLedgers (ScalaCheck)") {
    implicit val s: SparkSession = spark
    val sq = spark; import sq.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import com.fasterxml.jackson.databind.ObjectMapper
    val enc = org.apache.spark.sql.Encoders.product[ResultRow]
    val rows = results.take(6).toSeq
    // valid Unicode: control characters, JSON metacharacters, U+2028,
    // non-BMP and any other code point, with a sprinkling of characters
    // no file name may hold; run ids also get lone surrogates (a run id
    // holding either must be refused up front, never half-written)
    val piece = Gen.frequency(
      20 -> Gen.choose('\u0000', '\u001f').map(_.toString),
      10 -> Gen.oneOf("\"", "\\", " ", ".", "\u007f"),
      10 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.oneOf("é", "中", "\u2028", "😀"), // refused in run ids where file names are ASCII
      1 -> Gen.oneOf("/", ":"),
      1 -> Gen.choose(0, Character.MAX_CODE_POINT)
        .suchThat(cp => cp < Character.MIN_SURROGATE || cp > Character.MAX_SURROGATE)
        .map(cp => new String(Character.toChars(cp))))
    def strings(p: Gen[String]) = Gen.choose(0, 16).flatMap(n => Gen.listOfN(n, p)).map(_.mkString)
    val text = strings(piece)
    val runIds = strings(Gen.frequency(60 -> piece, 1 -> Gen.choose('\ud800', '\udfff').map(_.toString)))
    val m = new ObjectMapper()
    def countsOf(rs: Seq[ResultRow]) =
      rs.groupBy(_.bucket).view.mapValues(_.groupMapReduce(r => (r.engine, r.status))(_ => 1L)(_ + _)).toMap
    var accepted = 0
    val prop = Prop.forAll(runIds, text, text, text) { (runId, engine, status, input) =>
      // the codec's documents outside the table parse back exactly
      val oracle = m.readTree(Verify.oracleJson(Seq(runId -> input)))
      val summary = m.readTree(ExtractMain.runSummary(runId, 3, 7L, 0.5))
      val docsOk = oracle.size == 1 && oracle.get(runId).textValue == input &&
        summary.get("run_id").textValue == runId && summary.get("rows").asLong == 7L
      val root = tmpDir("runid")
      val written = rows.map(_.copy(engine = engine, status = status))
      val tableOk =
        try {
          LakehouseIO.writeCommitted(spark.createDataset(written)(enc), root, runId, input)
          accepted += 1
          val md = m.readTree(Files.readString(Paths.get(root, "metadata", "v1.metadata.json")))
          val receipt = m.readTree(Files.readString(Paths.get(root, "_snapshots", s"$runId.json")))
          val appendOk = LakehouseIO.bucketLedgers(root).map(_.runId).toSet == Set(runId) &&
            md.get("snapshots").size == 1 && receipt.get("input").textValue == input
          // applyChanges re-ledgers the first row's bucket with engine
          // and status swapped
          val changed = written.head.copy(engine = status, status = engine)
          LakehouseIO.applyChanges(root, spark.createDataset(Seq(changed))(enc),
            Seq.empty[(String, Int)].toDF("url", "bucket"), runId + "+")
          appendOk && LakehouseIO.bucketLedgers(root).map(l => l.bucket -> l.statusCounts).toMap ==
            countsOf(changed +: written.tail)
        } catch {
          case _: IllegalArgumentException => !LakehouseIO.validRunId(runId)
        }
      docsOk && tableOk
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(60).withInitialSeed(org.scalacheck.rng.Seed(7L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(accepted >= 15, s"only $accepted of the generated run ids were accepted")
  }

  test("lakehouse commit protocol works against an explicit file:// URI root") {
    implicit val s: SparkSession = spark
    // same protocol, scheme-qualified path — exercises the Hadoop
    // FileSystem resolution rather than OS-path assumptions
    val root = "file://" + tmpDir("fsuri")
    val ds = spark.createDataset(results.toSeq)(org.apache.spark.sql.Encoders.product[ResultRow])
    val ledgers = LakehouseIO.writeCommitted(ds, root, "uri-run", sfDir)
    assert(ledgers.nonEmpty)
    assert(ledgers.map(_.rows).sum == results.length)
    assert(ledgers.map(_.okRows).sum == results.count(_.status == core.Status.Ok))
    assert(LakehouseIO.committedBuckets(root) == ledgers.map(_.bucket).toSet)
    assert(LakehouseIO.readResults(root).count() == results.length)
    // idempotent re-run: everything already committed => no new ledgers
    assert(LakehouseIO.writeCommitted(
      LakehouseIO.resumeFilter(ds.toDF(), root).as[ResultRow](org.apache.spark.sql.Encoders.product[ResultRow]),
      root, "uri-run-2", sfDir).isEmpty)
  }

  // ---------------------------------------------- table writes, no process

  /** Mode bits (permissions, set-id and sticky) of a local file. */
  private def modeBits(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Command lines naming `under` of the processes started while `body`
    * runs, read back from a JFR recording of `jdk.ProcessStart`.
    */
  private def processStartsNaming(under: String)(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(_.contains(under))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("table writes start no process: run, crash + resume, applyChanges, compact, a stream micro-batch") {
    implicit val s: SparkSession = spark
    val sq = spark; import sq.implicits._
    val enc = org.apache.spark.sql.Encoders.product[ResultRow]
    val in = tmpDir("no-fork-in")
    PagesGen.fromDocuments(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(in)
    val baseDir = Paths.get(tmpDir("no-fork")).toRealPath()
    // a set-gid base: every directory made under it inherits set-gid
    Files.setAttribute(baseDir, "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
    val base = baseDir.toString
    val Seq(table, crashed, small, stream) = Seq("table", "crashed", "small", "stream").map(n => s"$base/$n")
    Files.createDirectory(Paths.get(stream))
    val control = Seq("ls", base)
    // the stream's offset and commit logs are Spark's own checkpoint
    // files, written through Hadoop's FileContext, not the table layer
    val checkpoint = s"$stream/_stream_checkpoint"
    val seen = processStartsNaming(base) {
      job(table, "f1")
      intercept[RuntimeException](job(crashed, "c1", failAfterBuckets = Some(3)))
      job(crashed, "c2")
      val Array(flip, gone) = results.filter(_.status == core.Status.Ok).take(2)
      LakehouseIO.applyChanges(table,
        spark.createDataset(Seq(flip.copy(status = core.Status.Error, error_code = "x")))(enc),
        Seq((gone.url, gone.bucket)).toDF("url", "bucket"), "chg")
      LakehouseIO.writeCommitted(spark.createDataset(results.toSeq)(enc).repartition(24), small, "s1", sfDir)
      assert(LakehouseIO.compact(small) > 0)
      StreamingExtract.start(spark, in, stream, conf).awaitTermination()
      // the recording does see a process that names the table root
      assert(new ProcessBuilder(control: _*).start().waitFor() == 0)
    }
    assert(LakehouseIO.committedBuckets(crashed) == LakehouseIO.committedBuckets(table))
    assert(StreamingExtract.readAll(spark, stream).count() == results.length)
    val forks = seen.filterNot(_.contains(checkpoint))
    assert(forks == Seq(control.mkString(" ")), s"${forks.size} processes named the table roots: ${forks.take(5)}")
  }

  test("committed files, .crc files, ledgers and directories carry Hadoop's default permissions") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.permission.FsPermission
    val root = Paths.get(tmpDir("perms"))
    job(root.toString, "p1")
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val walk = Files.walk(root)
    val entries = try walk.iterator.asScala.filter(_ != root).toSeq finally walk.close()
    val names = entries.map(root.relativize(_).toString)
    assert(names.exists(n => n.startsWith("data/bucket=") && n.endsWith(".parquet")))
    assert(names.exists(n => n.startsWith("data/bucket=") && n.endsWith(".parquet.crc")))
    assert(names.exists(n => n.startsWith("_ledger/bucket-") && n.endsWith(".json")))
    assert(names.exists(n => n.startsWith("_ledger/.bucket-") && n.endsWith(".json.crc")))
    assert(names.contains("metadata/version-hint.text"))
    entries.foreach { p =>
      val want = if (Files.isDirectory(p)) dirMode else fileMode
      assert(modeBits(p) == want, f"${root.relativize(p)}: ${modeBits(p)}%o, want $want%o")
    }
  }

  test("NioRawLocalFileSystem sets the mode bits Hadoop's RawLocalFileSystem sets") {
    import org.apache.hadoop.fs.permission.FsPermission
    val base = Paths.get(tmpDir("modes"))
    val fss = Seq(new org.apache.hadoop.fs.RawLocalFileSystem, new NioRawLocalFileSystem)
    fss.foreach(_.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration()))
    val setIdMode = Integer.parseInt("6755", 8)
    for {
      mode <- Seq("644", "600", "755", "700", "1777").map(Integer.parseInt(_, 8))
      kind <- Seq("file", "dir", "setid-file", "setid-dir")
    } {
      val got = fss.zipWithIndex.map { case (fs, j) =>
        val p = base.resolve(s"$kind-${mode.toOctalString}-$j")
        if (kind.endsWith("file")) Files.createFile(p) else Files.createDirectory(p)
        if (kind.startsWith("setid")) Files.setAttribute(p, "unix:mode", Integer.valueOf(setIdMode))
        fs.setPermission(new org.apache.hadoop.fs.Path(p.toUri), new FsPermission(mode.toShort))
        modeBits(p)
      }
      assert(got(0) == got(1), f"$kind ${mode}%o: hadoop ${got(0)}%o, nio ${got(1)}%o")
      if (kind.endsWith("file")) assert(got(1) == mode)
    }
  }

  test("compaction: many small files per bucket collapse to one, rows and ledger intact") {
    implicit val s: SparkSession = spark
    val root = tmpDir("compact")
    // 24 writer partitions over 16 buckets => several part files per bucket
    val ds = spark.createDataset(results.toSeq)(org.apache.spark.sql.Encoders.product[ResultRow])
      .repartition(24)
    LakehouseIO.writeCommitted(ds, root, "c-run", sfDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    def fileCounts: Map[Int, Int] =
      fs.listStatus(LakehouseIO.dataDir(root))
        .filter(_.getPath.getName.startsWith("bucket=")).map { st =>
          st.getPath.getName.stripPrefix("bucket=").toInt ->
            fs.listStatus(st.getPath).count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        }.toMap
    val countsBefore = fileCounts
    assert(countsBefore.values.exists(_ > 1), "precondition: no bucket has multiple files")
    val before = LakehouseIO.readResults(root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(5))).sortBy(_._1)
    val ledgersBefore = LakehouseIO.bucketLedgers(root)

    val n = LakehouseIO.compact(root)
    assert(n == countsBefore.count(_._2 > 1), "compacted-bucket count wrong")
    assert(fileCounts.values.forall(_ == 1), "a bucket still has multiple files")
    val after = LakehouseIO.readResults(root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(5))).sortBy(_._1)
    assert(after.sameElements(before), "compaction changed table contents")
    assert(LakehouseIO.bucketLedgers(root) == ledgersBefore, "compaction touched the ledger")
    assert(LakehouseIO.compact(root) == 0, "second compaction must be a no-op")
    // no maintenance leftovers
    val mnt = LakehouseIO.maintenanceDir(root)
    assert(!fs.isDirectory(mnt) || fs.listStatus(mnt).isEmpty)
  }

  test("compaction crash repair: bucket stranded in trash is restored, stale trash swept") {
    implicit val s: SparkSession = spark
    val root = tmpDir("repair")
    val ds = spark.createDataset(results.toSeq)(org.apache.spark.sql.Encoders.product[ResultRow])
    LakehouseIO.writeCommitted(ds, root, "r-run", sfDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val buckets = LakehouseIO.committedBuckets(root).toSeq.sorted
    val crashed = buckets.head
    val swapped = buckets(1)
    fs.mkdirs(LakehouseIO.maintenanceDir(root))
    // crash state 1: move-aside happened, swap-in didn't — data only in trash
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(LakehouseIO.dataDir(root), s"bucket=$crashed"),
      new org.apache.hadoop.fs.Path(LakehouseIO.maintenanceDir(root), s"trash-$crashed")))
    // crash state 2: swap-in completed, trash delete didn't — stale copy in trash
    val staleTrash = new org.apache.hadoop.fs.Path(LakehouseIO.maintenanceDir(root), s"trash-$swapped")
    fs.mkdirs(staleTrash)
    // plus an orphan rewrite dir
    fs.mkdirs(new org.apache.hadoop.fs.Path(LakehouseIO.maintenanceDir(root), "compact-99"))

    assert(LakehouseIO.repairCompaction(root) == 1, "exactly one bucket needed restoring")
    assert(fs.isDirectory(
      new org.apache.hadoop.fs.Path(LakehouseIO.dataDir(root), s"bucket=$crashed")))
    assert(fs.listStatus(LakehouseIO.maintenanceDir(root)).isEmpty, "maintenance dir not swept")
    assert(LakehouseIO.readResults(root).count() == results.length,
      "repair lost rows")
  }

  test("time travel: readAsOf sees exactly the buckets committed by then") {
    implicit val s: SparkSession = spark
    val root = tmpDir("asof")
    val ds = spark.createDataset(results.toSeq)(org.apache.spark.sql.Encoders.product[ResultRow])
    // wave 1: crash after 3 bucket commits
    intercept[RuntimeException] {
      LakehouseIO.writeCommitted(ds, root, "w1", sfDir, failAfterBuckets = Some(3))
    }
    val wave1 = LakehouseIO.bucketLedgers(root)
    assert(wave1.size == 3)
    val t1 = wave1.map(_.committedAtMs).max
    Thread.sleep(5) // ensure wave 2's ms timestamps are strictly later
    // wave 2: resume commits the rest
    LakehouseIO.writeCommitted(
      LakehouseIO.resumeFilter(ds.toDF(), root)
        .as[ResultRow](org.apache.spark.sql.Encoders.product[ResultRow]),
      root, "w2", sfDir)

    assert(LakehouseIO.readAsOf(root, 0L).count() == 0)
    val asOf1 = LakehouseIO.readAsOf(root, t1)
    val wave1Buckets = wave1.map(_.bucket).toSet
    assert(asOf1.count() == results.count(r => wave1Buckets.contains(r.bucket)))
    assert(asOf1.select("bucket").distinct().collect().map(_.getInt(0)).toSet == wave1Buckets)
    assert(LakehouseIO.readAsOf(root, System.currentTimeMillis()).count() == results.length)
    // ledger round-trip: parsed records reproduce what writeCommitted reported
    val lg = LakehouseIO.bucketLedgers(root)
    assert(lg.map(_.rows).sum == results.length)
    assert(lg.forall(l => l.runId == (if (wave1Buckets.contains(l.bucket)) "w1" else "w2")))
  }

  test("incremental read: a consumer's watermark sees exactly the new buckets") {
    implicit val s: SparkSession = spark
    val root = tmpDir("incr")
    val ds = spark.createDataset(results.toSeq)(org.apache.spark.sql.Encoders.product[ResultRow])
    intercept[RuntimeException] {
      LakehouseIO.writeCommitted(ds, root, "w1", sfDir, failAfterBuckets = Some(3))
    }
    val t1 = LakehouseIO.bucketLedgers(root).map(_.committedAtMs).max
    Thread.sleep(5)
    LakehouseIO.writeCommitted(
      LakehouseIO.resumeFilter(ds.toDF(), root)
        .as[ResultRow](org.apache.spark.sql.Encoders.product[ResultRow]),
      root, "w2", sfDir)
    val now = System.currentTimeMillis()
    // incremental(0, t1) + incremental(t1, now) partition the table
    val before = LakehouseIO.readIncremental(root, 0L, t1)
    val after = LakehouseIO.readIncremental(root, t1, now)
    assert(before.count() + after.count() == results.length)
    assert(after.count() == results.length - before.count())
    // the second slice is exactly wave 2's buckets
    val w2Buckets = LakehouseIO.bucketLedgers(root)
      .filter(_.runId == "w2").map(_.bucket).toSet
    assert(after.select("bucket").distinct().collect().map(_.getInt(0)).toSet == w2Buckets)
    // an up-to-date consumer sees nothing new (empty, correct schema)
    val idle = LakehouseIO.readIncremental(root, now)
    assert(idle.count() == 0 && idle.columns.contains("url"))
  }

  // -------------------------------------------------------------- retention

  test("retention: expire removes old snapshots and staging, keeps fresh") {
    val root = tmpDir("ttl")
    // snapshotsDir is a Hadoop Path now (expire itself runs through the
    // Hadoop FS); the nio view is used only to age files for the test
    val snapsNio = Paths.get(LakehouseIO.snapshotsDir(root).toUri.getPath)
    Files.createDirectories(snapsNio)
    LakehouseIO.atomicWrite(new org.apache.hadoop.fs.Path(LakehouseIO.snapshotsDir(root), "old.json"), "{}")
    LakehouseIO.atomicWrite(new org.apache.hadoop.fs.Path(LakehouseIO.snapshotsDir(root), "new.json"), "{}")
    val old = snapsNio.resolve("old.json")
    Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 100 * 3600 * 1000L))
    val stg = Paths.get(root, "_staging", "dead-run")
    Files.createDirectories(stg)
    Files.setLastModifiedTime(stg,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 100 * 3600 * 1000L))
    val removed = LakehouseIO.expire(root, 48L * 3600 * 1000)
    assert(removed == 2)
    assert(Files.exists(snapsNio.resolve("new.json")) && !Files.exists(old) && !Files.exists(stg))
  }

  // ------------------------------------------------------------- entrypoint

  test("bucketed tables: co-located join plans with ZERO exchange") {
    implicit val s: SparkSession = spark
    // the 100-TB join strategy: two tables bucketed on the same key with
    // the same bucket count join WITHOUT any shuffle — at scale this is
    // how the results table joins the pages table (or its own previous
    // snapshot) without moving either. Pinned here: the physical plan of
    // the bucketed join has no Exchange at all, while the identical
    // non-bucketed join shuffles both sides.
    val pages = PagesGen.fromDocuments(spark, sfDir).toDF()
    val left = pages.select(col("url"), col("lang"))
    val right = pages.select(col("url"), col("warc_ts").as("crawl_ts"))
    left.write.format("parquet").bucketBy(8, "url").sortBy("url")
      .option("path", tmpDir("bkt-left")).mode("overwrite").saveAsTable("bkt_left")
    right.write.format("parquet").bucketBy(8, "url").sortBy("url")
      .option("path", tmpDir("bkt-right")).mode("overwrite").saveAsTable("bkt_right")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val j = spark.table("bkt_left").join(spark.table("bkt_right"), "url")
      val expected = pages.groupBy("url").count()
        .agg(sum(col("count") * col("count"))).head().getLong(0)
      assert(j.count() == expected, "join result must be exact")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must not shuffle either side:\n$plan")
      // control: the same join over plain parquet DOES exchange
      val flat = left.join(right, "url")
      flat.count()
      assert(flat.queryExecution.executedPlan.toString.contains("Exchange"),
        "control join over non-bucketed inputs should shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("partitionBy layout: a lang predicate prunes partitions at the scan") {
    implicit val s: SparkSession = spark
    // the other half of the 100-TB read story (bucketing covers joins;
    // this covers scans): a hive-layout partition column turns a
    // predicate into directory pruning — the scan OPENS only the
    // selected partition, it doesn't read-then-filter
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = tmpDir("part-lang")
    src.write.partitionBy("lang").mode("overwrite").parquet(dir)
    val nLangs = src.select("lang").distinct().count()
    assert(nLangs > 1, "corpus must have several langs for pruning to mean anything")
    val pruned = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(pruned.count() == src.filter(col("lang") === "en").count())
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"scan must open exactly the lang=en directory, " +
        s"got ${scans.head.selectedPartitions.partitionCount} of $nLangs partitions")
  }

  test("ExtractMain.parse: required args and defaults") {
    val a = ExtractMain.parse(Array("--input", "/x", "--table", "/y", "--buckets", "7"))
    assert(a.input == "/x" && a.table == "/y" && a.buckets == 7 && a.salt == 4)
    intercept[IllegalArgumentException](ExtractMain.parse(Array("--input", "/x")))
    intercept[IllegalArgumentException](ExtractMain.parse(Array("--bogus", "1")))
  }

  test("circuit breaker: opens after N failures, half-opens via probes, recovers on success") {
    // 1 ns budget => every html doc times out (failure); threshold 3
    val tconf = ExtractConf(maxBytes = 1 << 20, buckets = 4, salt = 1,
      docBudgetNanos = 1L, breakerThreshold = 3)
    val breaker = new ExtractPipeline.Kernel.Breaker(tconf.breakerThreshold, probeEvery = 4)
    val bigText = (0 until 10000).map(i => s"w$i").mkString(" ")
    val html = graft.gen.HtmlGen.render(1L, bigText, "en")
    val statuses = (0 until 9).map { i =>
      ExtractPipeline.Kernel.process(s"https://x/$i", html, null, 0, tconf, breaker)
    }.map(r => (r.status, r.error_code))
    // 3 real failures open it; doc 3 is the half-open probe (real attempt,
    // fails again), docs 4-6 shed, doc 7 probes, doc 8 shed
    assert(statuses.take(3).forall(_ == (core.Status.Timeout, "deadline_exceeded")))
    assert(statuses(3) == ((core.Status.Timeout, "deadline_exceeded")))
    assert(statuses.slice(4, 7).forall(_ == (core.Status.Error, "circuit_open")))
    assert(statuses(7) == ((core.Status.Timeout, "deadline_exceeded")))
    assert(statuses(8) == ((core.Status.Error, "circuit_open")))
    // a probe SUCCESS closes the breaker: after a poison streak, healthy
    // docs behind it are extracted, not shed — at most probeEvery-1 healthy
    // docs are lost to shedding (the batch mapping of the reference's
    // 300 s half-open window, registry_v2.py:473-551)
    val b2 = new ExtractPipeline.Kernel.Breaker(3, probeEvery = 4)
    (0 until 3).foreach { i => // poison streak opens it
      ExtractPipeline.Kernel.process(s"https://p/$i", html, null, 0, tconf, b2)
    }
    val okHtml = graft.gen.HtmlGen.render(2L, "tiny healthy body", "en")
    val okConf = tconf.copy(docBudgetNanos = 0L)
    val tail = (0 until 6).map { i =>
      ExtractPipeline.Kernel.process(s"https://p/ok$i", okHtml, null, 0, okConf, b2)
    }.map(_.status)
    // first healthy doc is the probe => ok, closes the breaker => rest ok
    assert(tail.forall(_ == core.Status.Ok))
    // default batch conf keeps the breaker DISABLED: per-doc failures are
    // document properties, shedding neighbors would make output depend on
    // row order (ADVICE r1)
    assert(ExtractConf().breakerThreshold == 0)
  }

  test("engines discovery surface has both kernels with param schemas") {
    val rows = ExtractPipeline.engines(spark).collect()
    assert(rows.map(_.getString(0)).sorted.sameElements(Array("html", "pdf")))
    rows.foreach(r => assert(r.getString(3).contains(":")))
  }

  test("lakehouse protocol against a SECOND FileSystem scheme (mockfs://): commit, crash-resume, time travel, compaction") {
    implicit val s: SparkSession = spark
    // The full ledger/resume/time-travel/compaction cycle against a
    // FileSystem registered under a non-default scheme. Plain /tmp paths
    // resolve through LocalFileSystem and an OS-path shortcut would go
    // unnoticed; mockfs:// only works if every filesystem touch —
    // LakehouseIO's own metadata ops AND Spark's parquet writer/reader
    // underneath — flows through Hadoop FileSystem.get(uri, conf)
    // resolution. This is the sandbox's closest analog to pointing the
    // layer at hdfs:// or s3a:// (same resolution path, different impl).
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[MockSchemeFileSystem].getName)
    val root = "mockfs://" + tmpDir("mockfs")
    val ds = spark.createDataset(results.toSeq)(org.apache.spark.sql.Encoders.product[ResultRow])
      .repartition(24) // several part files per bucket => compaction has work
    intercept[RuntimeException] {
      LakehouseIO.writeCommitted(ds, root, "m1", sfDir, failAfterBuckets = Some(3))
    }
    val wave1 = LakehouseIO.bucketLedgers(root)
    assert(wave1.size == 3, "crash should leave exactly 3 committed buckets")
    val t1 = wave1.map(_.committedAtMs).max
    Thread.sleep(5)
    LakehouseIO.writeCommitted(
      LakehouseIO.resumeFilter(ds.toDF(), root)
        .as[ResultRow](org.apache.spark.sql.Encoders.product[ResultRow]),
      root, "m2", sfDir)
    assert(LakehouseIO.readResults(root).count() == results.length)
    val asOf1 = LakehouseIO.readAsOf(root, t1)
    val w1b = wave1.map(_.bucket).toSet
    assert(asOf1.select("bucket").distinct().collect().map(_.getInt(0)).toSet == w1b)
    val after = LakehouseIO.readIncremental(root, t1, System.currentTimeMillis())
    assert(after.count() == results.length - results.count(r => w1b.contains(r.bucket)))
    // compaction through the same scheme
    val before = LakehouseIO.readResults(root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(5))).sortBy(_._1)
    assert(LakehouseIO.compact(root) > 0, "expected at least one multi-file bucket")
    val post = LakehouseIO.readResults(root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(5))).sortBy(_._1)
    assert(post.sameElements(before), "compaction changed contents under mockfs://")
    // and the paths the layer reports really carry the scheme
    assert(LakehouseIO.dataDir(root).toUri.getScheme == "mockfs")
  }

  test("applyChanges: copy-on-write upsert/delete, bucket-scoped rewrite, overwrite snapshot") {
    implicit val s: SparkSession = spark
    import com.fasterxml.jackson.databind.ObjectMapper
    val root = tmpDir("apply-changes")
    val enc = org.apache.spark.sql.Encoders.product[ResultRow]
    val ds = spark.createDataset(results.toSeq)(enc)
    LakehouseIO.writeCommitted(ds, root, "base", sfDir)
    val before = LakehouseIO.readResults(root).count()
    val some = results.filter(_.status == core.Status.Ok).take(3)
    val upd = some(0).copy(text = "REWRITTEN BODY")
    val ins = some(1).copy(url = "https://new.example.com/fresh", text = "INSERTED")
    val del = some(2)
    val sq = spark; import sq.implicits._
    def changes(run: String) = LakehouseIO.applyChanges(root,
      spark.createDataset(Seq(upd, ins))(enc),
      Seq((del.url, del.bucket)).toDF("url", "bucket"), run)
    val affected = changes("chg1")
    assert(affected.toSet == Set(upd.bucket, ins.bucket, del.bucket))
    val after = LakehouseIO.readResults(root)
    assert(after.count() == before, "one insert and one delete must cancel")
    val byUrl = after.filter(col("url").isin(upd.url, ins.url, del.url))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byUrl(upd.url) == "REWRITTEN BODY", "upsert must replace by url")
    assert(byUrl(ins.url) == "INSERTED", "new url must appear")
    assert(!byUrl.contains(del.url), "deleted url must vanish")
    // affected buckets re-ledger under the change run; others untouched
    val lg = LakehouseIO.bucketLedgers(root).map(l => l.bucket -> l.runId).toMap
    affected.foreach(b => assert(lg(b) == "chg1"))
    assert(lg.count(_._2 == "base") == lg.size - affected.size)
    // the metadata projection reports the overwrite operation at seq 2
    val m = new ObjectMapper()
    val md = m.readTree(Files.readString(Paths.get(root, "metadata", "v2.metadata.json")))
    val snap2 = md.get("snapshots").get(1)
    assert(snap2.get("sequence-number").asLong == 2L)
    assert(snap2.get("summary").get("operation").asText == "overwrite")
    // idempotent: re-applying the same change set is a no-op on content
    changes("chg2")
    assert(LakehouseIO.readResults(root).count() == before)
    assert(LakehouseIO.readResults(root).filter(col("url") === upd.url)
      .head.getString(1) == "REWRITTEN BODY")
    // whole-bucket death: deleting every row of a bucket removes its
    // directory and records rows=0
    val victim = affected.head
    val victimUrls = LakehouseIO.readResults(root)
      .filter(col("bucket") === victim).select("url").as[String].collect()
    assert(victimUrls.nonEmpty)
    LakehouseIO.applyChanges(root, spark.emptyDataset[ResultRow](enc),
      victimUrls.toSeq.map(u => (u, victim)).toDF("url", "bucket"), "chg3")
    assert(LakehouseIO.bucketLedgers(root).find(_.bucket == victim).get.rows == 0L)
    assert(LakehouseIO.readResults(root)
      .filter(col("bucket") === victim).count() == 0L)
    // targeting an uncommitted bucket is a contract violation
    intercept[IllegalArgumentException] {
      LakehouseIO.applyChanges(root, spark.emptyDataset[ResultRow](enc),
        Seq(("u", 99999)).toDF("url", "bucket"), "chg4")
    }
    // whole-bucket death leaves the table fully READABLE and the change
    // set RE-RUNNABLE: the r4 delete-then-rename protocol threw
    // PATH_NOT_FOUND from readBuckets here (ADVICE r4 item 1)
    LakehouseIO.applyChanges(root, spark.emptyDataset[ResultRow](enc),
      victimUrls.toSeq.map(u => (u, victim)).toDF("url", "bucket"), "chg5")
    assert(LakehouseIO.readAsOf(root, System.currentTimeMillis())
      .filter(col("bucket") === victim).count() == 0L)
  }

  test("applyChanges crash mid-swap: stranded bucket repairs byte-identical; rerun and self-heal converge") {
    implicit val s: SparkSession = spark
    val sq = spark; import sq.implicits._
    val root = tmpDir("apply-crash")
    val enc = org.apache.spark.sql.Encoders.product[ResultRow]
    val ds = spark.createDataset(results.toSeq)(enc)
    LakehouseIO.writeCommitted(ds, root, "base", sfDir)
    def snap(): Array[(String, String)] = LakehouseIO.readResults(root)
      .select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    val before = snap()
    val upd = results.filter(_.status == core.Status.Ok).head
      .copy(text = "CRASH REWRITE")
    val victim = upd.bucket
    val noDeletes = Seq.empty[(String, Int)].toDF("url", "bucket")
    // crash injected BETWEEN the move-aside and the swap-in of `victim`
    intercept[RuntimeException] {
      LakehouseIO.applyChanges(root, spark.createDataset(Seq(upd))(enc),
        noDeletes, "crash1", failDuringSwapOf = Some(victim))
    }
    // mid-crash state: the bucket dir is ABSENT, its committed data
    // stranded in _maintenance/trash-N — exactly the window the r4
    // delete-then-rename protocol made unrecoverable
    assert(!Files.exists(Paths.get(root, "data", s"bucket=$victim")))
    assert(Files.exists(Paths.get(root, "_maintenance", s"trash-$victim")))
    // explicit repair restores the pre-change table byte-identical
    assert(LakehouseIO.repairCompaction(root) == 1)
    assert(snap().sameElements(before), "repair must restore pre-change state")
    // re-running the change set (fresh runId) converges to the new state
    LakehouseIO.applyChanges(root, spark.createDataset(Seq(upd))(enc),
      noDeletes, "crash2")
    val after = snap()
    assert(after.length == before.length)
    assert(after.find(_._1 == upd.url).get._2 == "CRASH REWRITE")
    // and the ENTRY repair self-heals: crash again, then re-run WITHOUT
    // a manual repairCompaction call in between
    val upd2 = upd.copy(text = "SECOND REWRITE")
    intercept[RuntimeException] {
      LakehouseIO.applyChanges(root, spark.createDataset(Seq(upd2))(enc),
        noDeletes, "crash3", failDuringSwapOf = Some(victim))
    }
    LakehouseIO.applyChanges(root, spark.createDataset(Seq(upd2))(enc),
      noDeletes, "crash4")
    assert(snap().find(_._1 == upd.url).get._2 == "SECOND REWRITE")
    assert(LakehouseIO.readResults(root).count() == before.length)
  }

  /** Compact re-runnable slice of the v2 spec-shape validation (the full
    * single-shot version lives in the "iceberg metadata projection" test)
    * — run after EVERY lifecycle mutation: required fields, unique
    * positive schema field-ids, strictly-increasing sequence numbers,
    * current == last, one RESOLVABLE manifest list per snapshot whose
    * entries point at existing ledger receipts.
    */
  private def assertV2Shape(root: String, expectSnapshots: Int): Unit = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val m = new ObjectMapper()
    val mdir = Paths.get(root, "metadata")
    val hint = Files.readString(mdir.resolve("version-hint.text"))
    val md = m.readTree(Files.readString(mdir.resolve(s"v$hint.metadata.json")))
    for (k <- Seq("format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "schemas", "current-schema-id",
        "partition-specs", "default-spec-id", "current-snapshot-id", "snapshots",
        "snapshot-log"))
      assert(md.has(k), s"metadata missing $k")
    assert(md.get("format-version").asInt == 2)
    val snaps = md.get("snapshots")
    assert(snaps.size == expectSnapshots,
      s"expected $expectSnapshots snapshots, got ${snaps.size}")
    var prevSeq = 0L
    var lastId = 0L
    (0 until snaps.size).foreach { i =>
      val sn = snaps.get(i)
      val seq = sn.get("sequence-number").asLong
      assert(seq > prevSeq, s"sequence numbers not strictly increasing at $i")
      prevSeq = seq
      lastId = sn.get("snapshot-id").asLong
      val ml = new org.apache.hadoop.fs.Path(sn.get("manifest-list").asText)
      val mlJson = m.readTree(Files.readString(Paths.get(ml.toUri.getPath)))
      assert(mlJson.isArray, s"manifest list not an array: $ml")
      mlJson.elements().forEachRemaining { e =>
        val mp = new org.apache.hadoop.fs.Path(e.get("manifest_path").asText)
        assert(Files.exists(Paths.get(mp.toUri.getPath)), s"dangling manifest: $mp")
      }
    }
    assert(md.get("current-snapshot-id").asLong == lastId)
    assert(md.get("last-sequence-number").asLong == prevSeq)
    assert(md.get("snapshot-log").size == snaps.size)
  }

  test("iceberg metadata lifecycle: append -> overwrite -> compact -> expire holds ledger<->metadata parity") {
    implicit val s: SparkSession = spark
    val sq = spark; import sq.implicits._
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val root = tmpDir("ice-life")
    val enc = org.apache.spark.sql.Encoders.product[ResultRow]
    val ds = spark.createDataset(results.toSeq)(enc).repartition(8)
    val m = new ObjectMapper()
    def md(): JsonNode = {
      val hint = Files.readString(Paths.get(root, "metadata", "version-hint.text"))
      m.readTree(Files.readString(Paths.get(root, "metadata", s"v$hint.metadata.json")))
    }
    def ledgerSum(): Long = LakehouseIO.bucketLedgers(root).map(_.rows).sum
    def currentSummary(): JsonNode = {
      val n = md()
      val cur = n.get("current-snapshot-id").asLong
      var found: JsonNode = null
      n.get("snapshots").elements().forEachRemaining { sn =>
        if (sn.get("snapshot-id").asLong == cur) found = sn
      }
      assert(found != null, "current snapshot missing from history")
      found.get("summary")
    }
    // 1. append: total-records == ledger sum == row count
    LakehouseIO.writeCommitted(ds, root, "life-1", sfDir)
    assert(currentSummary().get("total-records").asText.toLong == results.length.toLong)
    assert(ledgerSum() == results.length.toLong)
    assertV2Shape(root, expectSnapshots = 1)
    Thread.sleep(5)
    // 2. overwrite: delete 2 urls, rewrite 1 — total-records must FOLLOW
    //   the table (r4 summed `rows` cumulatively and overstated it;
    //   ADVICE r4 item 2), deleted-records must account the removal
    val okRows = results.filter(_.status == core.Status.Ok).take(3)
    LakehouseIO.applyChanges(root,
      spark.createDataset(Seq(okRows(0).copy(text = "LIFECYCLE")))(enc),
      okRows.drop(1).map(r => (r.url, r.bucket)).toSeq.toDF("url", "bucket"),
      "life-2")
    val afterChange = results.length.toLong - 2
    assert(ledgerSum() == afterChange)
    val ov = currentSummary()
    assert(ov.get("operation").asText == "overwrite")
    assert(ov.get("total-records").asText.toLong == afterChange,
      s"overwrite total-records must equal the live table, got ${ov.get("total-records")}")
    val added = ov.get("added-records").asText.toLong
    val deleted = ov.get("deleted-records").asText.toLong
    assert(added - deleted == -2L,
      s"added-deleted must net the change: added=$added deleted=$deleted")
    assertV2Shape(root, expectSnapshots = 2)
    // 3. compact: maintenance, NOT a commit — ledger, metadata version,
    //   and row count all unchanged
    val mdVer = Files.readString(Paths.get(root, "metadata", "version-hint.text"))
    LakehouseIO.compact(root)
    assert(ledgerSum() == afterChange)
    assert(Files.readString(Paths.get(root, "metadata", "version-hint.text")) == mdVer)
    assert(LakehouseIO.readResults(root).count() == afterChange)
    // 4. expire the append snapshot, then commit fresh buckets: survivors
    //   keep sequence numbers (gap, not renumber) and total-records still
    //   tracks the ledger exactly
    val sdir = Paths.get(root, "_snapshots")
    val cut = (Files.getLastModifiedTime(sdir.resolve("life-1.json")).toMillis +
      Files.getLastModifiedTime(sdir.resolve("life-2.json")).toMillis) / 2
    assert(LakehouseIO.expire(root, ttlMs = System.currentTimeMillis() - cut) >= 1)
    LakehouseIO.writeCommitted(
      ds.withColumn("bucket", col("bucket") + conf.buckets)
        .as[ResultRow](enc),
      root, "life-3", sfDir)
    val n3 = md()
    val seqs = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Long]
      n3.get("snapshots").elements().forEachRemaining(sn =>
        b += sn.get("sequence-number").asLong)
      b.toSeq
    }
    assert(seqs == Seq(2L, 3L), s"expiry must gap, never renumber: $seqs")
    assert(currentSummary().get("total-records").asText.toLong == ledgerSum())
    assert(ledgerSum() == afterChange + results.length.toLong)
    assert(!Files.exists(Paths.get(root, "metadata",
      s"snap-${LakehouseIO.snapshotIdOf("life-1")}-manifest-list.json")))
    assertV2Shape(root, expectSnapshots = 2)
  }

  test("iceberg metadata projection: v2 TableMetadata JSON validates against the spec shape") {
    implicit val s: SparkSession = spark
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val root = tmpDir("iceberg-md")
    val ds = spark.createDataset(results.toSeq)(org.apache.spark.sql.Encoders.product[ResultRow])
    LakehouseIO.writeCommitted(ds, root, "ice-run-1", sfDir)
    Thread.sleep(5)
    // second commit with fresh buckets -> second snapshot in the history
    LakehouseIO.writeCommitted(
      ds.withColumn("bucket", col("bucket") + conf.buckets)
        .as[ResultRow](org.apache.spark.sql.Encoders.product[ResultRow]),
      root, "ice-run-2", sfDir)
    val mdir = Paths.get(root, "metadata")
    // HadoopCatalog current-version convention
    assert(Files.readString(mdir.resolve("version-hint.text")) == "2")
    val m = new ObjectMapper()
    val md: JsonNode = m.readTree(Files.readString(mdir.resolve("v2.metadata.json")))
    // required TableMetadata fields, format-version 2 (Iceberg spec)
    for (k <- Seq("format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "schemas", "current-schema-id",
        "partition-specs", "default-spec-id", "last-partition-id", "sort-orders",
        "default-sort-order-id", "current-snapshot-id", "snapshots", "snapshot-log"))
      assert(md.has(k), s"metadata missing required field $k")
    assert(md.get("format-version").asInt == 2)
    assert(java.util.UUID.fromString(md.get("table-uuid").asText) != null)
    // schema: struct with unique positive field ids; last-column-id = max
    val schema = md.get("schemas").get(0)
    assert(schema.get("schema-id").asInt == md.get("current-schema-id").asInt)
    assert(schema.get("type").asText == "struct")
    val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
    def walkIds(n: JsonNode): Unit = {
      if (n.has("id")) ids += n.get("id").asInt
      for (k <- Seq("element-id", "key-id", "value-id") if n.has(k)) ids += n.get(k).asInt
      n.elements().forEachRemaining(c => walkIds(c))
    }
    walkIds(schema)
    assert(ids.nonEmpty && ids.forall(_ > 0) && ids.distinct.length == ids.length,
      s"field ids not unique/positive: $ids")
    assert(md.get("last-column-id").asInt == ids.max)
    // partition spec: identity on the bucket column, source-id a real field id
    val spec = md.get("partition-specs").get(0)
    assert(spec.get("spec-id").asInt == md.get("default-spec-id").asInt)
    val pf = spec.get("fields").get(0)
    assert(pf.get("name").asText == "bucket" && pf.get("transform").asText == "identity")
    assert(ids.contains(pf.get("source-id").asInt))
    assert(pf.get("field-id").asInt >= 1000)
    // snapshots: both runs, deterministic ids, monotone sequence numbers,
    // current = latest, cumulative total-records, manifest lists resolve
    val snaps = md.get("snapshots")
    assert(snaps.size == 2)
    val seqs = (0 until snaps.size).map(i => snaps.get(i).get("sequence-number").asLong)
    assert(seqs == Seq(1L, 2L))
    assert(md.get("last-sequence-number").asLong == 2L)
    assert(snaps.get(1).get("snapshot-id").asLong == md.get("current-snapshot-id").asLong)
    assert(snaps.get(0).get("snapshot-id").asLong == LakehouseIO.snapshotIdOf("ice-run-1"))
    val t0 = snaps.get(0).get("summary").get("total-records").asText.toLong
    val t1 = snaps.get(1).get("summary").get("total-records").asText.toLong
    assert(t0 == results.length.toLong && t1 == 2L * results.length)
    for (i <- 0 until snaps.size) {
      val sn = snaps.get(i)
      assert(sn.get("summary").get("operation").asText == "append")
      val ml = new org.apache.hadoop.fs.Path(sn.get("manifest-list").asText)
      val mlJson = m.readTree(Files.readString(Paths.get(ml.toUri.getPath)))
      assert(mlJson.isArray && mlJson.size > 0, s"empty manifest list $ml")
      mlJson.elements().forEachRemaining { e =>
        assert(e.get("added_snapshot_id").asLong == sn.get("snapshot-id").asLong)
        val mp = new org.apache.hadoop.fs.Path(e.get("manifest_path").asText)
        assert(Files.exists(Paths.get(mp.toUri.getPath)), s"manifest target missing: $mp")
      }
    }
    // snapshot-log mirrors history in time order
    val log = md.get("snapshot-log")
    assert(log.size == 2)
    assert(log.get(0).get("timestamp-ms").asLong <= log.get(1).get("timestamp-ms").asLong)
    // v1 exists too (written by the first commit) and already validated
    // format-version 2
    assert(m.readTree(Files.readString(mdir.resolve("v1.metadata.json")))
      .get("snapshots").size == 1)
    // expiry: survivors KEEP their persisted sequence numbers (a gap in
    // the sequence, not a renumbering — iceberg expire_snapshots
    // semantics), and the expired snapshot's manifest list goes with
    // its receipt
    val sdir = Paths.get(root, "_snapshots")
    val m1t = Files.getLastModifiedTime(sdir.resolve("ice-run-1.json")).toMillis
    val m2t = Files.getLastModifiedTime(sdir.resolve("ice-run-2.json")).toMillis
    assert(m2t > m1t, "receipts must have distinct mtimes for the cut")
    val cut = (m1t + m2t) / 2
    assert(LakehouseIO.expire(root, ttlMs = System.currentTimeMillis() - cut) >= 1)
    LakehouseIO.writeCommitted(
      ds.withColumn("bucket", col("bucket") + 2 * conf.buckets)
        .as[ResultRow](org.apache.spark.sql.Encoders.product[ResultRow]),
      root, "ice-run-3", sfDir)
    assert(Files.readString(mdir.resolve("version-hint.text")) == "3")
    val md3 = m.readTree(Files.readString(mdir.resolve("v3.metadata.json")))
    val snaps3 = md3.get("snapshots")
    assert(snaps3.size == 2, "expired snapshot must leave the metadata")
    assert((0 until 2).map(i => snaps3.get(i).get("sequence-number").asLong) == Seq(2L, 3L),
      "survivors renumbered — sequence numbers must persist through expiry")
    assert(md3.get("last-sequence-number").asLong == 3L)
    assert(!Files.exists(mdir.resolve(
      s"snap-${LakehouseIO.snapshotIdOf("ice-run-1")}-manifest-list.json")),
      "expired manifest list must be deleted")
    assert(Files.exists(mdir.resolve(
      s"snap-${LakehouseIO.snapshotIdOf("ice-run-2")}-manifest-list.json")))
    // and the same projection works through a second FileSystem scheme
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[MockSchemeFileSystem].getName)
    val mroot = "mockfs://" + tmpDir("iceberg-mockfs")
    LakehouseIO.writeCommitted(ds, mroot, "ice-mock", sfDir)
    val hint = new org.apache.hadoop.fs.Path(mroot + "/metadata/version-hint.text")
    val fs2 = hint.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs2.exists(hint))
    val mmd = m.readTree(Files.readString(
      Paths.get(new org.apache.hadoop.fs.Path(mroot + "/metadata/v1.metadata.json").toUri.getPath)))
    assert(mmd.get("format-version").asInt == 2 &&
      mmd.get("location").asText.startsWith("mockfs://"))
  }

  // ------------------------------------------------- metadata bytes pinned

  /** Values that depend on the clock or the Spark session, masked before
    * the metadata files are compared.
    */
  private val volatileMeta =
    """"(committed_at_ms|wall_ms|docs_per_sec|app_id|timestamp-ms|last-updated-ms)":("[^"]*"|[-0-9.E]+)""".r

  /** Every ledger, receipt, manifest list, `vN.metadata.json` and
    * `version-hint.text` under `root`, by relative path, masked.
    */
  private def metadataFiles(root: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Seq("_ledger", "_snapshots", "metadata").flatMap { d =>
      val s = Files.list(Paths.get(root, d))
      try s.iterator.asScala.toSeq finally s.close()
    }.filterNot(_.getFileName.toString.startsWith(".")).map { p =>
      Paths.get(root).relativize(p).toString ->
        volatileMeta.replaceAllIn(Files.readString(p), "\"$1\":_")
    }.toMap
  }

  test("metadata bytes over a fixed history equal the recorded ones: two appends, applyChanges, compact, expire") {
    implicit val s: SparkSession = spark
    val sq = spark; import sq.implicits._
    val enc = org.apache.spark.sql.Encoders.product[ResultRow]
    // the root is part of the metadata (location, manifest paths, uuid)
    val root = "/tmp/graft-metadata-pin"
    val rootPath = new org.apache.hadoop.fs.Path(root)
    LakehouseIO.fsOf(rootPath).delete(rootPath, true)
    val rows = results.toSeq.sortBy(_.url)
    LakehouseIO.writeCommitted(spark.createDataset(rows.filter(_.bucket % 2 == 0))(enc),
      root, "pin-a", "in/a")
    LakehouseIO.writeCommitted(spark.createDataset(rows)(enc).repartition(4), root, "pin-b", "in/b")
    val Seq(flip, gone) = rows.filter(_.status == core.Status.Ok).take(2)
    LakehouseIO.applyChanges(root,
      spark.createDataset(Seq(flip.copy(status = core.Status.Error, error_code = "x")))(enc),
      Seq((gone.url, gone.bucket)).toDF("url", "bucket"), "pin-chg")
    assert(LakehouseIO.compact(root) > 0)
    val recorded = {
      val in = getClass.getResourceAsStream("/metadata-pin.tsv")
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
      finally in.close()
    }
    val before = metadataFiles(root)
    assert(before.keySet == recorded.keySet)
    before.foreach { case (k, v) => assert(v == recorded(k), k) }
    // expire pin-a only: its receipt is backdated past the TTL
    Files.setLastModifiedTime(Paths.get(root, "_snapshots", "pin-a.json"),
      java.nio.file.attribute.FileTime.fromMillis(0L))
    assert(LakehouseIO.expire(root, ttlMs = 3600L * 1000L) == 1)
    assert(metadataFiles(root) == recorded - "_snapshots/pin-a.json" -
      s"metadata/snap-${LakehouseIO.snapshotIdOf("pin-a")}-manifest-list.json")
    LakehouseIO.fsOf(rootPath).delete(rootPath, true)
  }
}

/** A [[org.apache.hadoop.fs.RawLocalFileSystem]] re-registered under the
  * `mockfs://` scheme — the second-FileSystem contract double for the
  * PipelineSpec matrix (instantiated reflectively by Hadoop via
  * `fs.mockfs.impl`, hence top-level with a no-arg constructor).
  */
class MockSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
  override def getScheme: String = "mockfs"
}

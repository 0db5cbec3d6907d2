package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.PagesGen
import graft.spark._
import graft.streaming.{StreamingCc, StreamingExtract}

/** Streaming-mode integration: AvailableNow drains the input, a second
  * wave of files appends through the same checkpoint, and the union of
  * micro-batch commits equals the batch pipeline's output byte-for-byte.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(name: String): String = {
    val p = Files.createTempDirectory(s"graft-$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  test("streaming: two waves through one checkpoint == batch output") {
    implicit val s: SparkSession = spark
    import s.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"
    val in = tmpDir("stream-in")
    val table = tmpDir("stream-table")
    val conf = SparkEntry.conf

    val all = PagesGen.fromDocuments(spark, sfDir)
    val wave1 = all.filter(r => (r.url.hashCode & 1) == 0)
    val wave2 = all.filter(r => (r.url.hashCode & 1) == 1)

    wave1.write.mode("append").parquet(in)
    StreamingExtract.start(spark, in, table, conf).awaitTermination()
    val afterWave1 = StreamingExtract.readAll(spark, table).count()
    assert(afterWave1 == wave1.map(_.url).distinct().count())

    wave2.write.mode("append").parquet(in)
    StreamingExtract.start(spark, in, table, conf).awaitTermination()

    val streamed = StreamingExtract.readAll(spark, table)
      .select("url", "text", "status", "pages")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1)
    val batch = ExtractPipeline.run(all, conf).toDF()
      .select("url", "text", "status", "pages")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1)
    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))
  }

  test("streaming: a file:// URI table root reads back every committed row") {
    spark.sparkContext.setLogLevel("WARN")
    val in = tmpDir("stream-uri-in")
    val dir = tmpDir("stream-uri-table")
    PagesGen.fromDocuments(spark, GoldenGen.CorpusDir).write.mode("append").parquet(in)
    StreamingExtract.start(spark, in, "file://" + dir, SparkEntry.conf).awaitTermination()
    val committed = {
      val s = Files.list(java.nio.file.Paths.get(dir, "batches"))
      try s.iterator.asScala.map(b => LakehouseIO.bucketLedgers(b.toString).map(_.rows).sum).sum
      finally s.close()
    }
    assert(committed > 0)
    assert(StreamingExtract.readAll(spark, "file://" + dir).count() == committed)
  }

  test("streaming: many small micro-batches (maxFilesPerTrigger=1) == batch output") {
    implicit val s: SparkSession = spark
    import s.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"
    val in = tmpDir("stream-mb-in")
    val table = tmpDir("stream-mb-table")
    val conf = SparkEntry.conf

    val all = PagesGen.fromDocuments(spark, sfDir)
    // several input files -> several micro-batches under maxFilesPerTrigger=1.
    // Hash-partition by url: dedup is per-micro-batch (append semantics,
    // see StreamingExtract scaladoc), so a re-crawl pair split across
    // batches would legitimately yield two rows — co-locate them.
    all.repartition(5, org.apache.spark.sql.functions.col("url"))
      .write.mode("append").parquet(in)
    StreamingExtract.start(spark, in, table, conf,
      maxFilesPerTrigger = Some(1)).awaitTermination()

    val batchRoots = java.nio.file.Files.list(
      java.nio.file.Paths.get(table, "batches")).count()
    assert(batchRoots >= 2, s"expected multiple micro-batches, got $batchRoots")

    val streamed = StreamingExtract.readAll(spark, table)
      .select("url", "text", "status", "pages").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).sortBy(_._1)
    val batch = ExtractPipeline.run(all, conf).toDF()
      .select("url", "text", "status", "pages").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).sortBy(_._1)
    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))

    // idempotency: restarting the drained stream commits nothing new
    StreamingExtract.start(spark, in, table, conf,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(StreamingExtract.readAll(spark, table).count() == streamed.length)
  }

  test("streaming: CC segment ingest (m10) == batch walker across waves; replay commits nothing") {
    // the ingest spine a resident pipeline actually runs continuously
    // (r4 verdict item 7): .warc.gz segment batches arrive as files,
    // AvailableNow drains them, every micro-batch commits atomically
    // under batches/batch=<id>. Output must equal the batch walker on
    // the same segments, wave by wave, and a drained restart (replayed
    // source, same checkpoints) must commit nothing new.
    implicit val s: SparkSession = spark
    import s.implicits._
    import graft.datapipe.TrainingOps
    spark.sparkContext.setLogLevel("WARN")
    val in = tmpDir("cc-stream-in")
    val table = tmpDir("cc-stream-table")
    // synthetic segments: the m10 member families (valid WARC+HTTP,
    // bare-HTTP 404, non-HTTP body, non-WARC member, FNAME headers,
    // one truncated-gzip family) built driver-side
    def rec(d: Long): Array[Byte] = {
      val url = s"https://h${d % 97}.example.com/doc/$d"
      val payload =
        if (d % 3 == 0) s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>doc $d</html>"
        else if (d % 3 == 1) s"HTTP/1.0 404 Not Found\nContent-Type: text/plain\n\nmissing $d"
        else s"not-http doc $d\r\n\r\nbody"
      val r =
        if (d % 13 == 6) "this member is not a warc record"
        else s"WARC/1.0\r\nWARC-Target-URI: $url\r\nContent-Length: " +
          s"${payload.getBytes("UTF-8").length}\r\n\r\n$payload\r\n\r\n"
      TrainingOps.gzipMember(r.getBytes("UTF-8"), if (d % 11 == 3) s"d$d" else null)
    }
    val segs = (0L until 48L).map { sid =>
      val all = (0L until 4L).flatMap(i => rec(sid * 4 + i)).toArray
      (sid, if (sid % 7 == 5) all.dropRight(5) else all)
    }
    val (wave1, wave2) = segs.partition(_._1 % 2 == 0)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    wave1.toDF("segment_id", "gz").write.mode("append").parquet(in)
    StreamingCc.start(spark, in, table).awaitTermination()
    assert(canon(StreamingCc.readAll(spark, table)) ==
      canon(TrainingOps.ccReader(spark, wave1.toDF("segment_id", "gz"))),
      "wave-1 streamed output diverges from the batch walker")

    wave2.toDF("segment_id", "gz").write.mode("append").parquet(in)
    StreamingCc.start(spark, in, table).awaitTermination()
    val streamed = canon(StreamingCc.readAll(spark, table))
    assert(streamed == canon(TrainingOps.ccReader(spark, segs.toDF("segment_id", "gz"))),
      "two-wave streamed union diverges from the batch walker on all segments")

    // replay idempotence: a drained restart adds no batch dir, no rows
    val batchDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(table, "batches")).count()
    StreamingCc.start(spark, in, table).awaitTermination()
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(table, "batches")).count() == batchDirs)
    assert(canon(StreamingCc.readAll(spark, table)) == streamed)

    // lost-checkpoint guard: committed batches + no checkpoint means a
    // restart would renumber micro-batches from 0 and misread the id
    // collision as a replay — start() must refuse loudly, not skip data
    val ckpt = java.nio.file.Paths.get(table, "_stream_checkpoint")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    intercept[IllegalArgumentException] {
      StreamingCc.start(spark, in, table)
    }
  }

  test("streaming: cross-batch re-crawl dedups to one row via readAllDeduped") {
    implicit val s: SparkSession = spark
    import s.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"
    val in = tmpDir("stream-dd-in")
    val table = tmpDir("stream-dd-table")
    val conf = SparkEntry.conf

    val all = PagesGen.fromDocuments(spark, sfDir).limit(60).cache()
    val urls = all.map(_.url).distinct().count()
    // wave 1: everything; wave 2: the SAME pages re-crawled — a later
    // micro-batch re-delivering known urls
    all.write.mode("append").parquet(in)
    StreamingExtract.start(spark, in, table, conf).awaitTermination()
    all.write.mode("append").parquet(in)
    StreamingExtract.start(spark, in, table, conf).awaitTermination()

    // raw view: one row per (url, batch) — documented append semantics
    val raw = StreamingExtract.readAll(spark, table).count()
    assert(raw == 2 * urls, s"expected $urls urls twice, got $raw")
    // deduped view restores the batch pipeline's one-row-per-url contract
    val dd = StreamingExtract.readAllDeduped(spark, table)
      .select("url", "text", "status").collect()
    assert(dd.length == urls)
    assert(dd.map(_.getString(0)).distinct.length == urls)
    // empty table: readAll yields an empty frame, not an exception
    assert(StreamingExtract.readAll(spark, tmpDir("stream-empty")).count() == 0)
  }

  test("streaming: stateless datapipe ops (pii, repetition) == batch on the same rows") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sparkContext.setLogLevel("WARN")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // per-row ops contain no aggregation, so the same Column expressions
    // compose directly onto readStream frames — one definition, two
    // execution modes (the north-rule batch==streaming parity, extended
    // to the training-data ops)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(20).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val crafted = Seq(
      (9001L, "mail a@bb.co then 10.0.0.1 and +1-555-1234 end"),
      (9002L, Seq.fill(10)("w").mkString(" ")))
    val rows = corpus ++ crafted

    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")
    val q1 = graft.datapipe.TrainingOps.piiStats(streamDf)
      .writeStream.format("memory").queryName("pii_stream").outputMode("append").start()
    val q2 = graft.datapipe.TrainingOps.repetitionStats(streamDf)
      .writeStream.format("memory").queryName("rep_stream").outputMode("append").start()
    // stratified sampling is a stateless hash filter — same parity claim;
    // lang derived deterministically from doc_id on both sides
    import org.apache.spark.sql.functions.{element_at, typedLit, col}
    def withLang(df: org.apache.spark.sql.DataFrame) = df.withColumn("lang",
      element_at(typedLit(Seq("en", "de", "xx")), (col("doc_id") % 3 + 1).cast("int")))
    val q3 = graft.datapipe.TrainingOps.stratifiedSample(withLang(streamDf))
      .writeStream.format("memory").queryName("smp_stream").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q1.processAllAvailable()
      q2.processAllAvailable()
      q3.processAllAvailable()
      val batchDf = rows.toDF("doc_id", "text")
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.mkString("|")).toSeq.sorted
      assert(canon(spark.table("pii_stream")) ==
        canon(graft.datapipe.TrainingOps.piiStats(batchDf)))
      assert(canon(spark.table("rep_stream")) ==
        canon(graft.datapipe.TrainingOps.repetitionStats(batchDf)))
      assert(canon(spark.table("smp_stream")) ==
        canon(graft.datapipe.TrainingOps.stratifiedSample(withLang(batchDf))))
      assert(spark.table("pii_stream").count() == rows.length)
    } finally { q1.stop(); q2.stop(); q3.stop() }
  }

  test("streaming: sessionize emits a session once its gap closes; == batch on on-time rows") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, sum}
    spark.sparkContext.setLogLevel("WARN")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(min: Int) = new java.sql.Timestamp(PagesGen.Epoch + min * 60000L)
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    // the SAME sessionize call as the batch query (one definition, two
    // modes): only the watermark is streaming-specific, applied upstream
    val sessions = graft.datapipe.RelationalOps.sessionize(
      mem.toDF().toDF("user_id", "ts", "value_milli")
        .withWatermark("ts", "5 minutes"),
      key = "user_id", ts = "ts", gap = "10 minutes",
      sum(col("value_milli")).as("sv"))
    val q = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    def rows() = spark.table("sess_stream").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getLong(4)))
      .sortBy(x => (x._1, x._2.getTime))

    try {
      // one u1 session at minutes 1..2; session window end = 2 + gap = 12.
      // watermark (2 - 5 < 0) hasn't passed it -> append emits nothing
      mem.addData(("u1", ts(1), 100L), ("u1", ts(2), 10L))
      q.processAllAvailable()
      assert(rows().isEmpty, "open session must not emit in append mode")

      // event time jumps to 20 -> watermark 15 > 12 closes the session
      // (the jump event starts u1's SECOND session, still open)
      mem.addData(("u1", ts(20), 1L))
      q.processAllAvailable()
      mem.addData(("u1", ts(21), 2L)) // extra batch so the watermark applies
      q.processAllAvailable()
      assert(rows().toSeq == Seq(("u1", ts(1), ts(2), 2L, 110L)),
        s"closed session must emit exactly once with event-time bounds: ${rows().toSeq}")

      // a row below the watermark is dropped — the closed session must
      // not re-emit or absorb it; the second session closes with 20,21 only
      mem.addData(("u1", ts(3), 999L))
      q.processAllAvailable()
      mem.addData(("u1", ts(45), 5L))
      q.processAllAvailable()
      mem.addData(("u1", ts(46), 5L))
      q.processAllAvailable()
      val out = rows().toSeq
      assert(out.take(2) == Seq(
        ("u1", ts(1), ts(2), 2L, 110L), ("u1", ts(20), ts(21), 2L, 3L)),
        s"late row must not reopen the first session or join the second: $out")

      // batch == streaming on the on-time rows (late ts(3) excluded)
      val batch = graft.datapipe.RelationalOps.sessionize(
          Seq(("u1", ts(1), 100L), ("u1", ts(2), 10L), ("u1", ts(20), 1L),
            ("u1", ts(21), 2L)).toDF("user_id", "ts", "value_milli"),
          key = "user_id", ts = "ts", gap = "10 minutes",
          sum(col("value_milli")).as("sv"))
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getLong(4)))
        .sortBy(x => (x._1, x._2.getTime))
      assert(out.take(2) == batch.toSeq,
        s"streamed closed sessions must equal the batch plan: $out vs ${batch.toSeq}")
    } finally q.stop()
  }

  test("streaming: windowed status counts emit once per closed window; late rows dropped") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sparkContext.setLogLevel("WARN")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(min: Int) = new java.sql.Timestamp(PagesGen.Epoch + min * 60000L)
    val mem = MemoryStream[(java.sql.Timestamp, String, String)]
    val counts = MetricsStage.windowedStatusCounts(
      mem.toDF().toDF("warc_ts", "engine", "status"),
      windowDur = "10 minutes", watermark = Some("5 minutes"))
    val q = counts.writeStream.format("memory").queryName("wincounts")
      .outputMode("append").start()
    def table() = spark.table("wincounts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))

    try {
      // all rows inside the first 10-min window; watermark (3 - 5 min < 0)
      // hasn't passed its end -> append emits nothing yet
      mem.addData((ts(1), "html", "ok"), (ts(2), "html", "ok"), (ts(3), "pdf", "ok"))
      q.processAllAvailable()
      assert(table().isEmpty, "open window must not emit in append mode")

      // event time jumps to 20 min -> watermark 15 min closes [0, 10)
      mem.addData((ts(20), "html", "ok"))
      q.processAllAvailable()
      mem.addData((ts(21), "html", "ok")) // one more batch so the advanced watermark is applied
      q.processAllAvailable()
      val epochS = PagesGen.Epoch / 1000
      assert(table().toSeq == Seq((epochS, "html", "ok", 2L), (epochS, "pdf", "ok", 1L)),
        s"closed [0,10) windows must emit exactly once, got ${table().toSeq}")

      // a row 13+ min below the watermark is dropped, not re-aggregated:
      // advancing event time further must close [20, 30) WITHOUT the late row
      mem.addData((ts(2), "html", "ok")) // too late for [0, 10)
      q.processAllAvailable()
      mem.addData((ts(40), "html", "ok"))
      q.processAllAvailable()
      mem.addData((ts(41), "html", "ok"))
      q.processAllAvailable()
      val out = table().toSeq
      assert(out.count(_._1 == epochS) == 2 && out.filter(_._1 == epochS).map(_._4).sum == 3,
        s"late row must not reopen or re-emit [0,10): $out")
      assert(out.contains((epochS + 1200, "html", "ok", 2L)),
        s"[20,30) must close with its two on-time rows: $out")
    } finally q.stop()
  }

  test("streaming: stream-stream interval join matches across batches, drops out-of-interval") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sparkContext.setLogLevel("WARN")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(min: Int) = new java.sql.Timestamp(PagesGen.Epoch + min * 60000L)
    val fetches = MemoryStream[(String, java.sql.Timestamp)]
    val parses = MemoryStream[(String, java.sql.Timestamp, String)]
    val joined = graft.datapipe.RelationalOps.streamIntervalJoin(
      fetches.toDF().toDF("url", "fetch_ts"),
      parses.toDF().toDF("p_url", "parse_ts", "status"),
      key = "url", rightKey = "p_url", leftTs = "fetch_ts", rightTs = "parse_ts",
      within = "5 minutes", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("sj")
      .outputMode("append").start()
    def rows() = spark.table("sj").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(3), r.getString(4)))
      .sortBy(x => (x._1, x._2.getTime, x._3.getTime))

    try {
      // same-batch match inside the interval
      fetches.addData(("u/a", ts(1)))
      parses.addData(("u/a", ts(3), "ok"))
      q.processAllAvailable()
      assert(rows().toSeq == Seq(("u/a", ts(1), ts(3), "ok")),
        s"in-interval match must emit: ${rows().toSeq}")

      // a parse PAST the 5-minute bound never joins
      parses.addData(("u/a", ts(9), "late-parse"))
      q.processAllAvailable()
      assert(rows().length == 1, s"out-of-interval parse must not join: ${rows().toSeq}")

      // cross-batch: the fetch is buffered in state until its parse arrives
      fetches.addData(("u/b", ts(10)))
      q.processAllAvailable()
      parses.addData(("u/b", ts(12), "ok"))
      q.processAllAvailable()
      assert(rows().count(_._1 == "u/b") == 1,
        s"cross-batch match must emit once state pairs up: ${rows().toSeq}")

      // eviction: advance BOTH watermarks far past u/a's interval end,
      // then replay an in-interval parse for it — the fetch row's state
      // is gone (bounded-state guarantee), so nothing new emits
      fetches.addData(("u/z", ts(60)))
      parses.addData(("u/z", ts(60), "wm"))
      q.processAllAvailable()
      parses.addData(("u/a", ts(4), "too-late"))
      q.processAllAvailable()
      assert(!rows().exists(_._4 == "too-late"),
        s"evicted left state must not match a late right row: ${rows().toSeq}")
    } finally q.stop()
  }

  test("streaming: in-flight re-crawl dedup (dropDuplicatesWithinWatermark) keeps first sighting") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sparkContext.setLogLevel("WARN")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(min: Int) = new java.sql.Timestamp(PagesGen.Epoch + min * 60000L)
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    // the resident-crawler shape: a url re-surfacing within the watermark
    // horizon is the SAME crawl observation (mirror hits, retries) and
    // must not re-enter the pipeline; state is bounded by the horizon,
    // unlike an unbounded dropDuplicates
    val deduped = mem.toDF().toDF("url", "warc_ts")
      .withWatermark("warc_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("url")
    val q = deduped.writeStream.format("memory").queryName("crawl_dedup")
      .outputMode("append").start()
    def rows() = spark.table("crawl_dedup").collect()
      .map(r => (r.getString(0), r.getTimestamp(1))).sortBy(x => (x._1, x._2.getTime))

    try {
      mem.addData(("u/a", ts(1)), ("u/a", ts(2)), ("u/b", ts(3)))
      q.processAllAvailable()
      // duplicates within one batch collapse to the first sighting
      assert(rows().toSeq == Seq(("u/a", ts(1)), ("u/b", ts(3))),
        s"within-batch re-crawls must collapse: ${rows().toSeq}")

      // a re-crawl in a LATER batch but inside the horizon is still a dup
      mem.addData(("u/a", ts(5)))
      q.processAllAvailable()
      assert(rows().toSeq == Seq(("u/a", ts(1)), ("u/b", ts(3))),
        s"cross-batch re-crawl inside the horizon must not re-emit: ${rows().toSeq}")

      // once the watermark passes the horizon, the same url is a NEW
      // observation (state was evicted — bounded memory by construction)
      mem.addData(("u/z", ts(30))) // advances watermark to 20
      q.processAllAvailable()
      mem.addData(("u/a", ts(25)))
      q.processAllAvailable()
      val out = rows().toSeq
      assert(out.contains(("u/a", ts(25))),
        s"after state eviction the url is a new observation: $out")
    } finally q.stop()
  }
}

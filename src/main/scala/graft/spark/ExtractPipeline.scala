package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** The extraction job spine (SURVEY.md par 3.1 "Spark equivalent"):
  *
  *   pages --size gate--> mapPartitions(kernel)   [map-only, in the scan stage]
  *     --repartition(salted url-hash)--> partition-local dedup
  *     --> bucketed write
  *
  * One shuffle total, and it carries EXTRACTED RESULTS (text + spans,
  * ~10-15% of raw html), never the raw payload. At 100 TB input this is
  * the difference between shuffling 100 TB twice (dedup + repartition of
  * raw bytes — the naive plan) and shuffling ~15 TB once: the kernel runs
  * in the scan stage with zero data movement, and deduplication happens
  * AFTER the salted shuffle, partition-locally, because the shuffle key
  * derives from the url so re-crawls of the same url always co-locate.
  * Latest warc_ts wins (deterministic; re-crawled pages keep the newest
  * capture), via a spill-aware sortWithinPartitions rather than a
  * hash-map, so a hot partition cannot OOM.
  *
  * The exchange has no partition count of its own: its width is the
  * session's `spark.sql.shuffle.partitions`, and AQE may coalesce it like
  * any other exchange. Coalescing merges whole hash partitions, so every
  * re-crawl of a url still meets in one reduce task. A width computed
  * from the table shape (`max(buckets, cores) * salt`, 128 tasks at the
  * defaults) costs more than it buys: a reduce task spends ~30 ms
  * deserializing itself whatever its input (a map task ~3 ms), so on a
  * 4-core host 128 small reduce tasks took 2.5-3.0 s of wall time for
  * ~3 s of CPU.
  *
  * The kernel is a per-executor object (JVM lazy singleton = the
  * reference's double-checked-lock engine cache,
  * /root/reference/src/services/ocr/registry_v2.py:332-357); the
  * per-document deadline replaces asyncio.wait_for
  * (dynamic_routes.py:231-234); all failures are error-as-data rows so a
  * poison document never kills the job (the purpose of the reference's
  * circuit breaker, registry_v2.py:473-551).
  */
object ExtractPipeline {

  /** Kernel-stage row: extraction result + the crawl timestamp that
    * decides which re-crawl of a url survives dedup.
    */
  final case class KernelOut(ts: Long, r: ResultRow)

  /** Add the url-hash bucket column — the commit/lineage/resume unit
    * (north_rule: "url-hash bucketed partitioning").
    */
  def withBucket(pages: DataFrame, conf: ExtractConf): DataFrame =
    pages.withColumn("bucket", pmod(xxhash64(col("url")), lit(conf.buckets)).cast("int"))

  /** Salted repartition key: bucket spread over `salt` sub-keys so one hot
    * bucket (skewed host set, giant documents) fans out across tasks while
    * bucket-level commit atomicity is preserved by the partitioned write
    * (north_rule: "salted repartition for skewed hosts").
    */
  def saltedKey(bucket: Column, url: Column, salt: Int): Column =
    concat_ws("#", bucket, pmod(xxhash64(url, lit(0x5a17)), lit(salt)))

  /** Ingest prep: derive the commit bucket and apply the cheap Catalyst
    * size gate first (fail-fast ordering — the reference checks size
    * before reading content, validators.py:90-99). Split out so the
    * resume filter (a bucket predicate) sits between prep and the kernel,
    * pruning committed buckets before any kernel work — with Parquet/
    * Iceberg bucket metadata this prunes whole files at the scan.
    */
  def prepared(pages: Dataset[PageRow], conf: ExtractConf): DataFrame =
    withBucket(pages.toDF(), conf)
      .withColumn("status_pre",
        when(length(col("html")) > lit(conf.maxBytes), lit(Status.RejectedSize)))

  /** Kernel in the scan stage (map-only, zero data movement), then ONE
    * shuffle of the much smaller results on the salted url-hash key,
    * then partition-local dedup (latest warc_ts wins; co-location is
    * guaranteed because the shuffle key is a pure function of url).
    * The shuffle's width comes from the session plus AQE (see the object
    * doc). Oversized rows skip the kernel but still reach the results
    * table as answers (error-as-data).
    */
  def extractFrom(bucketed: DataFrame, conf: ExtractConf)(implicit spark: SparkSession): Dataset[ResultRow] = {
    import spark.implicits._
    val kernelOut = bucketed
      // warc_ts as raw epoch micros: decoding to java.sql.Timestamp costs
      // an allocation + calendar math per row for a value only compared
      .select(col("url"), unix_micros(col("warc_ts")).as("ts_us"), col("html"),
        col("status_pre"), col("bucket"))
      .as[(String, java.lang.Long, Array[Byte], String, Int)]
      .mapPartitions { rows =>
        // per-partition breaker state — task-scoped, like the reference's
        // per-worker engine health (registry_v2.py:473-551); a poison
        // streak sheds the failing kernel until a half-open probe succeeds
        val breaker = new Kernel.Breaker(conf.breakerThreshold)
        // per-task registry carrying the run's validated kernel params
        // (default params reuse the shared singletons)
        val extractors = Extractors.forParams(conf.htmlParams, conf.pdfParams)
        rows.map { case (url, tsUs, html, statusPre, bucket) =>
          KernelOut(if (tsUs == null) 0L else tsUs.longValue(),
            Kernel.process(url, html, statusPre, bucket, conf, breaker, extractors))
        }
      }
    kernelOut
      .repartition(saltedKey(col("r.bucket"), col("r.url"), conf.salt))
      // spill-aware clustering of re-crawls; ties broken by text so the
      // survivor is deterministic even for same-ts crawls
      .sortWithinPartitions(col("r.url"), col("ts").desc, col("r.text"))
      .as[KernelOut]
      .mapPartitions { it =>
        new Iterator[ResultRow] {
          private var nextRow: ResultRow = _
          private var lastUrl: String = null
          advance()
          private def advance(): Unit = {
            nextRow = null
            while (nextRow == null && it.hasNext) {
              val k = it.next()
              if (k.r.url != lastUrl) { lastUrl = k.r.url; nextRow = k.r }
            }
          }
          def hasNext: Boolean = nextRow != null
          def next(): ResultRow = { val r = nextRow; advance(); r }
        }
      }
  }

  /** Full transform: typed results, no side effects. */
  def run(pages: Dataset[PageRow], conf: ExtractConf = ExtractConf())(implicit spark: SparkSession): Dataset[ResultRow] =
    extractFrom(prepared(pages, conf), conf)

  /** Per-executor extraction kernel. Object = one lazy init per JVM
    * executor, thread-safe for free (SURVEY.md par 2.3 item 13).
    */
  object Kernel extends Serializable {

    /** Per-partition circuit breaker: opens for a kernel after N
      * consecutive failures (timeout counts as failure, like the
      * reference's 504-inc path) and sheds that kernel's rows in the
      * task as `error/circuit_open` — the batch mapping of the
      * reference's 503-when-open behavior (dynamic_routes.py:208-218).
      * State is task-scoped by design: the reference's breaker is
      * per-worker-process too (its docs call out that workers don't
      * share it, main.py:48-59).
      *
      * HALF-OPEN probing (reference: 300 s retry window then probe,
      * registry_v2.py:473-551): while open, every `probeEvery`-th
      * document is attempted for real instead of shed; a probe success
      * closes the breaker. In a batch task the time axis is the row
      * stream, so "retry after 300 s" maps to "probe every Nth row" —
      * this bounds the cost of a genuinely broken kernel to 1/probeEvery
      * of remaining rows while guaranteeing that a poison STREAK (bad
      * pages from one site, co-located by input-file order) can never
      * permanently shed the healthy documents behind it. Unlike an
      * open-until-task-end breaker, output no longer depends on row
      * order for healthy documents.
      */
    final class Breaker(threshold: Int, probeEvery: Int = 16) {
      require(probeEvery > 0, "probeEvery must be positive")
      private val fails = scala.collection.mutable.HashMap.empty[String, Int]
      private val shedSince = scala.collection.mutable.HashMap.empty[String, Int]
      /** True => shed this doc as circuit_open; false => attempt it
        * (closed, or open-and-probing).
        */
      def shouldShed(engine: String): Boolean = {
        if (threshold <= 0 || fails.getOrElse(engine, 0) < threshold) return false
        val n = shedSince.getOrElse(engine, 0)
        shedSince.update(engine, n + 1)
        n % probeEvery != 0 // row 0 after opening is a probe, then every Nth
      }
      def recordFailure(engine: String): Unit =
        if (threshold > 0) fails.update(engine, fails.getOrElse(engine, 0) + 1)
      def recordSuccess(engine: String): Unit =
        if (threshold > 0) { fails.update(engine, 0); shedSince.remove(engine) }
    }
    object Breaker { val disabled = new Breaker(0) }

    def process(url: String, html: Array[Byte], statusPre: String, bucket: Int,
        conf: ExtractConf, breaker: Breaker = Breaker.disabled,
        extractors: Map[String, Extractor] = Extractors.all): ResultRow = {
      val t0 = System.nanoTime()
      def durMs = (System.nanoTime() - t0) / 1e6
      if (statusPre != null)
        return ResultRow(url, "", Nil, 0, "none", statusPre, "file_too_large", durMs, bucket)
      val ct = ContentType.detect(html)
      extractors.get(ct) match {
        case None =>
          ResultRow(url, "", Nil, 0, "none", Status.RejectedFormat, "unsupported_format", durMs, bucket)
        case Some(ex) if breaker.shouldShed(ex.name) =>
          ResultRow(url, "", Nil, 0, ex.name, Status.Error, "circuit_open", durMs, bucket)
        case Some(ex) =>
          try {
            val deadline = new Html.Deadline(conf.docBudgetNanos, conf.docBudgetSteps)
            val r = ex.extract(html, deadline)
            breaker.recordSuccess(ex.name)
            ResultRow(url, r.text, r.spans, r.pages, ex.name, Status.Ok, null, durMs, bucket)
          } catch {
            case _: Html.TimeoutException =>
              breaker.recordFailure(ex.name)
              ResultRow(url, "", Nil, 0, ex.name, Status.Timeout, "deadline_exceeded", durMs, bucket)
            case e: Exception =>
              breaker.recordFailure(ex.name)
              ResultRow(url, "", Nil, 0, ex.name, Status.Error, e.getClass.getSimpleName, durMs, bucket)
          }
      }
    }
  }

  /** Discovery surface — parity with GET /v2/ocr/engines
    * (/root/reference/src/api/routes/v2/dynamic_routes.py:656-713).
    */
  def engines(spark: SparkSession): DataFrame = engines(spark, ExtractConf())

  /** Discovery reflects the APPLIED params of the given conf, not the
    * defaults (parity with GET /v2/ocr/engines/{engine}/info after
    * param resolution, registry_v2.py:367-471).
    */
  def engines(spark: SparkSession, conf: ExtractConf): DataFrame = {
    import spark.implicits._
    Extractors.forParams(conf.htmlParams, conf.pdfParams).values
      .map(_.describe)
      .map(m => (m("name"), m("version"), m("supported_formats"), m("params")))
      .toSeq
      .toDF("name", "version", "supported_formats", "params")
  }

  /** OCR-need routing over extracted PDF results — the searchable-PDF
    * vs raster-PDF decision the reference makes per request when it
    * picks a raster OCR engine over a text-layer extractor
    * (/root/reference/src/api/routes/v2/dynamic_routes.py:231-234), as
    * a corpus-level TABLE a batch pipeline routes on: a PDF whose text
    * layer yields fewer than `minCharsPerPage` characters per page is a
    * scan wearing a PDF container — its text came from nowhere, and the
    * doc belongs on the (expensive, GPU-bound) OCR path; a dense text
    * layer means the cheap parse already got everything. The split is
    * THE cost gate of any OCR fleet: routing a searchable PDF to OCR
    * burns GPU for identical output, routing a scan to the text parser
    * silently emits an empty document.
    *
    * Ladder (first hit wins): `invalid` (pages NULL or <= 0 — a
    * malformed row must not fall through a NULL chars_per_page into the
    * cheap text_layer branch, and would throw under ANSI mode), `empty`
    * (zero chars — no text layer at all), `needs_ocr` (chars div pages
    * < threshold), `text_layer`. Integer division so the oracle
    * reproduces the boundary exactly. Pure per-row projection over the
    * results table — map-only, zero shuffle at any scale.
    */
  def ocrRouting(results: DataFrame, minCharsPerPage: Long = 120L): DataFrame = {
    require(minCharsPerPage >= 1, "minCharsPerPage must be positive")
    val badPages = col("pages").isNull || col("pages") <= 0
    results.select(col("url"), col("pages"),
      length(col("text")).cast("long").as("chars"))
      .withColumn("chars_per_page",
        when(badPages, lit(null)).otherwise(expr("chars div pages")))
      .withColumn("verdict",
        when(badPages, lit("invalid"))
          .when(col("chars") === 0, lit("empty"))
          .when(col("chars_per_page") < minCharsPerPage, lit("needs_ocr"))
          .otherwise(lit("text_layer")))
  }
}

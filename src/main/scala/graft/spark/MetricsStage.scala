package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Run metrics as flat hash aggregates (partial+final map-side combine for
  * free) — the reference's Prometheus surface re-expressed as tables
  * (SURVEY.md par 2.4): request counters by (engine, status)
  * (/root/reference/src/utils/metrics.py:63-67), duration histogram
  * (metrics.py:69-74), file-size histogram (metrics.py:82-87), timeout
  * counter (metrics.py:76-80).
  */
object MetricsStage {

  /** Counter: requests by (engine, status). */
  def statusCounts(results: Dataset[ResultRow]): DataFrame =
    results.groupBy("engine", "status").agg(count(lit(1)).as("n"))

  /** Histogram: per-engine duration percentiles + mean (the Prometheus
    * histogram's information content without fixed buckets).
    */
  def durationStats(results: Dataset[ResultRow]): DataFrame =
    results.groupBy("engine").agg(
      count(lit(1)).as("n"),
      round(avg(col("duration_ms")), 3).as("avg_ms"),
      percentile_approx(col("duration_ms"), array(lit(0.5), lit(0.95), lit(0.99)), lit(10000))
        .as("p50_p95_p99_ms"),
    )

  /** Histogram: exact bucket parity with the reference's file-size buckets
    * (10 KB ... 5 MB) via a CASE ladder + groupBy — `width_bucket` style.
    */
  def sizeHistogram(pages: DataFrame): DataFrame = {
    val len = length(col("html"))
    val bucket = when(len <= 10240, "le_10KB")
      .when(len <= 51200, "le_50KB")
      .when(len <= 102400, "le_100KB")
      .when(len <= 512000, "le_500KB")
      .when(len <= 1048576, "le_1MB")
      .when(len <= 5242880, "le_5MB")
      .otherwise("gt_5MB")
    pages.groupBy(bucket.as("size_bucket")).agg(count(lit(1)).as("n"))
  }

  /** Timeout counter per engine (metrics.py:76-80). */
  def timeouts(results: Dataset[ResultRow]): DataFrame =
    results.filter(col("status") === "timeout").groupBy("engine").agg(count(lit(1)).as("n"))

  /** Time-series counters: requests by (event-time window, engine, status)
    * — the scrape-interval dimension of the reference's Prometheus counters
    * (metrics.py:63-67 sampled over time) re-expressed as an event-time
    * windowed aggregate over `warc_ts`. The SAME declarative plan runs
    * batch and streaming: pass `watermark` in streaming mode so append
    * output emits each window exactly once (when the watermark passes its
    * end) and closed-window state is dropped — an unbounded stream holds
    * O(open windows) state, not O(history). Windows align to the epoch, so
    * `win_start` is SQL-reproducible as floor(epoch_s / window) * window.
    */
  def windowedStatusCounts(results: DataFrame, windowDur: String = "10 minutes",
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.map(d => results.withWatermark("warc_ts", d)).getOrElse(results)
    src.groupBy(window(col("warc_ts"), windowDur), col("engine"), col("status"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("engine"), col("status"), col("n"))
  }

  /** Multi-level counters in ONE pass: (engine, status) counts plus the
    * per-engine subtotals and the grand total the reference's dashboard
    * derives from its flat Prometheus counters — `rollup` computes all
    * three levels in a single partial+final hash aggregate (one shuffle,
    * no union of three groupBys, no second scan). `lvl` is the grouping
    * bitmask (0 = leaf, 1 = per-engine subtotal, 3 = grand total)
    * disambiguating aggregate rows from genuine NULL dimension values.
    */
  def statusRollup(results: Dataset[ResultRow]): DataFrame =
    results.rollup("engine", "status")
      .agg(count(lit(1)).as("n"), grouping_id().as("lvl"))

  /** Persist the run's metrics next to the table (parity with /metrics). */
  def write(results: Dataset[ResultRow], root: String, runId: String)(implicit spark: SparkSession): Unit =
    append(statusCounts(results), root, runId)

  /** What `write(readResults(root), root, runId)` persists — whole-table
    * (engine, status) counts — summed from the bucket ledgers instead:
    * O(#buckets), and no file under `data/` is read.
    */
  def writeFromLedgers(root: String, runId: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val counts = LakehouseIO.statusCounts(root).toSeq.map { case ((engine, status), n) => (engine, status, n) }
    append(counts.toDF("engine", "status", "n").coalesce(1), root, runId) // one file per run
  }

  private def append(counts: DataFrame, root: String, runId: String): Unit =
    LakehouseIO.writeParquet(counts.withColumn("run_id", lit(runId)),
      new org.apache.hadoop.fs.Path(s"$root/_metrics/status_counts"), "append")
}

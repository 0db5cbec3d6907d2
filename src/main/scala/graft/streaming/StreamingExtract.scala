package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.spark._

/** Streaming mode (SURVEY.md par 2.9 "Streaming"): the same extraction
  * pipeline over a file stream — `readStream` + `Trigger.AvailableNow` +
  * `foreachBatch`, the Structured-Streaming replacement for the
  * reference's unbounded request stream (one HTTP request at a time,
  * /root/reference/src/api/routes/v2/dynamic_routes.py:180-371). No
  * watermark: there is no event-time aggregation, only per-row transforms
  * (SURVEY.md par 2.9).
  *
  * Exactly-once composes the batch ledger with Spark's batch-replay
  * guarantee: every micro-batch commits into its own ledger root
  * (`batches/batch=<id>`), per-bucket atomically. A crashed batch
  * replays under the SAME batchId with the same rows (replayable file
  * source), and `resumeFilter` + the ledger skip its already-committed
  * buckets — re-delivery cannot duplicate rows (idempotent batch
  * commits per SURVEY.md par 3.4). Distinct batches write to distinct
  * roots, so a long-running stream appends instead of colliding with
  * earlier batches' bucket ledgers.
  */
object StreamingExtract {

  def batchRoot(tableRoot: String, batchId: Long): String =
    s"$tableRoot/batches/batch=$batchId"

  /** All committed results across micro-batches. A stream that has
    * committed nothing yet (missing or empty `batches/` dir) yields an
    * empty DataFrame of the results schema rather than throwing.
    *
    * NOTE cross-batch semantics: a url re-crawled in a LATER micro-batch
    * appears once per batch here (per-batch dedup only); use
    * [[readAllDeduped]] for the batch pipeline's one-row-per-url view.
    */
  def readAll(spark: SparkSession, tableRoot: String): org.apache.spark.sql.DataFrame = {
    val dfs = StreamingCc.batchDirs(tableRoot).map(p => LakehouseIO.readResults(p.toString)(spark))
    if (dfs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.Encoders.product[ResultRow].schema)
    else dfs.reduce(_ unionByName _)
  }

  /** One-row-per-url view across all batches — the same contract as the
    * batch pipeline's partition-local dedup (latest batch wins; within a
    * batch the per-batch dedup already kept the newest warc_ts). Windowed
    * on url, so the shuffle key matches the per-batch bucket derivation.
    */
  def readAllDeduped(spark: SparkSession, tableRoot: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val withBatch = readAll(spark, tableRoot)
      .withColumn("batch_id",
        regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
    withBatch
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("url")).orderBy(col("batch_id").desc, col("text"))))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** Start the stream: new page files appearing under `inputDir` are
    * extracted and committed to `tableRoot`. `AvailableNow` drains what
    * exists and stops (batch-like); pass `Trigger.ProcessingTime(...)` to
    * run resident.
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      tableRoot: String,
      conf: ExtractConf = ExtractConf(),
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
  ): StreamingQuery = {
    implicit val s: SparkSession = spark
    // lost-checkpoint guard (see StreamingCc): batch renumbering from 0
    // would make the per-batch ledgers misread new data as replays
    StreamingCc.requireCheckpointMatchesTable(tableRoot)
    val reader = spark.readStream
      .schema(Encoders.product[PageRow].schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(inputDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$tableRoot/_stream_checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val root = batchRoot(tableRoot, batchId)
        val pages = batch.as[PageRow](Encoders.product[PageRow])
        val todo = LakehouseIO.resumeFilter(ExtractPipeline.prepared(pages, conf), root)
        val results = ExtractPipeline.extractFrom(todo, conf)
        LakehouseIO.writeCommitted(results, root, s"stream-batch-$batchId", inputDir)
        ()
      }
      .start()
  }
}

package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.spark.LakehouseIO

/** Streaming Common-Crawl ingest: the m10 gzip→WARC→HTTP segment walker
  * ([[graft.datapipe.TrainingOps.ccReader]]) driven by Structured
  * Streaming — the production shape of the one m-family op a resident
  * pipeline runs continuously. Fetcher fleets drop `.warc.gz` segment
  * batches (here: parquet files of (segment_id, gz)) under `inputDir` as
  * crawls complete; `readStream` + `Trigger.AvailableNow` drains what
  * exists and stops (schedule it per cycle), or a processing-time
  * trigger runs it resident. No watermark: the walk is a stateless
  * per-segment transform (the [[StreamingExtract]] rule).
  *
  * Exactly-once composes the file source's batch replay with an
  * idempotent per-batch commit: each micro-batch's parsed records are
  * staged then RENAMED to `tableRoot/batches/batch=<id>` in one
  * filesystem move, and a replayed batch (same batchId after a crash)
  * sees the directory exists and commits nothing. This is the
  * [[StreamingExtract]] ledger pattern collapsed to batch granularity —
  * a segment row has no bucket axis, so the per-bucket ledger reduces to
  * the batch directory itself, and the receipt IS the rename.
  */
object StreamingCc {

  /** Input contract: one row per arriving segment. */
  val segmentSchema: StructType = StructType(Seq(
    StructField("segment_id", LongType, nullable = false),
    StructField("gz", BinaryType, nullable = true)))

  def batchDir(tableRoot: String, batchId: Long): Path =
    new Path(s"$tableRoot/batches", s"batch=$batchId")

  /** Drain `inputDir` through the segment walker into per-batch commits
    * under `tableRoot`.
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      tableRoot: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
  ): StreamingQuery = {
    // A lost/reset checkpoint restarts batch numbering at 0, and the
    // dir-exists idempotence check CANNOT tell that id collision from a
    // legitimate replay — new data would be silently skipped while the
    // fresh checkpoint marks it processed. Refuse the combination loudly.
    requireCheckpointMatchesTable(tableRoot)
    val reader = spark.readStream.schema(segmentSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(inputDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$tableRoot/_stream_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val out = batchDir(tableRoot, batchId)
        val fs = LakehouseIO.fsOf(out)
        if (!fs.exists(out)) { // replayed batch: already committed → no-op
          val staging = new Path(s"$tableRoot/_staging", s"batch=$batchId")
          if (fs.exists(staging)) fs.delete(staging, true)
          LakehouseIO.writeParquet(graft.datapipe.TrainingOps.ccReader(spark, batch),
            staging, "overwrite")
          fs.mkdirs(out.getParent)
          if (!fs.rename(staging, out))
            throw new java.io.IOException(s"cc batch commit failed: $staging -> $out")
        }
        ()
      }
      .start()
  }

  /** Fail fast when `tableRoot` carries committed batches but no stream
    * checkpoint: restarting would renumber micro-batches from 0 and the
    * per-batch idempotence check would misread the collision as a replay
    * (shared by [[StreamingExtract]] — same commit convention).
    */
  private[streaming] def requireCheckpointMatchesTable(tableRoot: String): Unit = {
    val ckpt = new Path(tableRoot, "_stream_checkpoint")
    require(batchDirs(tableRoot).isEmpty || LakehouseIO.fsOf(ckpt).isDirectory(ckpt),
      s"$tableRoot holds committed batches but no _stream_checkpoint — a " +
        "restart would renumber batches from 0 and silently skip new data " +
        "as 'replays'; restore the checkpoint or start a fresh tableRoot")
  }

  /** The committed batch directories `tableRoot/batches/batch=<id>`, by
    * name, listed through the table layer's FileSystem, so any Hadoop
    * root works (a `file://` URI included); none when nothing is
    * committed. Shared with [[StreamingExtract]].
    */
  private[streaming] def batchDirs(tableRoot: String): Seq[Path] = {
    val base = new Path(tableRoot, "batches")
    val fs = LakehouseIO.fsOf(base)
    if (!fs.isDirectory(base)) Seq.empty
    else fs.listStatus(base).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch=")).sortBy(_.getName)
  }

  /** All committed records across micro-batches; an empty table yields
    * an empty frame of the walker's schema.
    */
  def readAll(spark: SparkSession, tableRoot: String): DataFrame = {
    val dirs = batchDirs(tableRoot)
    if (dirs.isEmpty)
      graft.datapipe.TrainingOps.ccReader(spark,
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], segmentSchema))
    else spark.read.parquet(dirs.map(_.toString): _*)
  }
}

package graft.spark

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.AccumulatorV2

/** Iceberg-shaped table layer over Parquet + JSON metadata (SURVEY.md
  * par 7.1: no Iceberg jars in the sandbox, so this reproduces the
  * semantics the pipeline needs — atomic per-bucket commits, snapshot
  * metadata with lineage + throughput, snapshot expiry — behind call
  * sites where `format("iceberg")` is a drop-in swap).
  *
  * All filesystem ops go through the Hadoop `FileSystem` API, so the same
  * commit protocol runs unchanged against file://, hdfs://, or any
  * Hadoop-compatible store (rename-atomicity caveat: object stores
  * without atomic rename — raw S3A — need the Iceberg swap or an
  * S3-committer underneath, exactly as they do for Spark's own output
  * committers). `file:` paths resolve to the layer's own local FS,
  * [[NioLocalFileSystem]], on the driver (ledgers, receipts, Iceberg
  * metadata, renames, mkdirs) and in every Spark write of the table
  * ([[writeParquet]]). Hadoop's default local FS, lacking libhadoop,
  * starts one `chmod` process per file, `.crc` file and directory it
  * creates — hundreds per commit; this one sets the same mode bits
  * in-process and writes the same files. Rename is still the atomic
  * rename(2) underneath. Other schemes are untouched.
  *
  * Layout under the table root:
  *   data/bucket=N/ (parquet)  committed results (rename = commit point)
  *   _ledger/bucket-N.json     per-bucket lineage record (exists <=> committed)
  *   _snapshots/<runId>.json   run-level snapshot metadata
  *   _staging/<runId>/...      uncommitted writer output
  *
  * Commit protocol: write everything to _staging via partitionBy(bucket),
  * then per bucket atomically rename the directory into data/ and write
  * the ledger record. A killed run leaves only _staging garbage;
  * re-running anti-joins committed buckets away and processes the rest
  * (north_rule: "resumes from the last committed partition"). This
  * replaces the reference's request-id logging + result persistence
  * (/root/reference/src/api/middleware/logging.py:17-61,
  * src/services/file_handler.py:99-121) with (run_id, bucket) lineage.
  */
object LakehouseIO {

  /** One committed bucket's lineage record. `statusCounts` holds the
    * bucket's rows by (engine, status); `rows` and `okRows` derive from it.
    */
  final case class BucketLedger(
      bucket: Int,
      runId: String,
      committedAtMs: Long,
      statusCounts: Map[(String, String), Long],
  ) {
    def rows: Long = statusCounts.values.sum
    def okRows: Long = statusCounts.collect { case ((_, graft.core.Status.Ok), n) => n }.sum
  }

  /** The charset the JVM maps local file names through (US-ASCII under a
    * POSIX locale, where a non-ASCII name cannot be created at all).
    */
  private val fileNameCharset =
    java.nio.charset.Charset.forName(sys.props.getOrElse("sun.jnu.encoding", "UTF-8"))

  /** Whether `runId` can name this layer's files (`_snapshots/<runId>.json`,
    * `_staging/<runId>/`): a single path component — non-empty, not `.` or
    * `..`, no `/`, `:` or NUL, encodable in the file-name charset — of at
    * most 200 UTF-8 bytes, so the receipt's name plus its temp and
    * checksum suffixes fits a 255-byte file name. Any other character,
    * control characters included, is stored and read back exactly.
    */
  def validRunId(runId: String): Boolean =
    runId.nonEmpty && runId != "." && runId != ".." &&
      !runId.exists(c => c == '/' || c == ':' || c == '\u0000') &&
      fileNameCharset.newEncoder().canEncode(runId) &&
      runId.getBytes(StandardCharsets.UTF_8).length <= 200

  private def requireRunId(runId: String): Unit =
    require(validRunId(runId), s"run id ${MetaJson.write(runId)} cannot name a table file")

  def ledgerDir(root: String): Path = new Path(root, "_ledger")
  def dataDir(root: String): Path = new Path(root, "data")
  def snapshotsDir(root: String): Path = new Path(root, "_snapshots")
  def stagingDir(root: String, runId: String): Path = new Path(new Path(root, "_staging"), runId)

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Hadoop settings that resolve `file:` to [[NioLocalFileSystem]],
    * uncached so Hadoop's cached default local FS does not answer
    * instead. They build [[localFs]], and every Spark write of the table
    * takes them as writer options ([[writeParquet]]): Spark merges writer
    * options into that write's Hadoop conf, which the task-side writers
    * and the commit protocol both use.
    */
  private val localFsSettings = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The one [[NioLocalFileSystem]] behind every driver-side `file:` touch,
    * configured from the Hadoop conf in force at its first use (as
    * Hadoop's own FileSystem cache is).
    */
  private lazy val localFs: FileSystem = {
    val conf = new Configuration(hadoopConf)
    localFsSettings.foreach { case (k, v) => conf.set(k, v) }
    FileSystem.get(java.net.URI.create("file:///"), conf)
  }

  /** FileSystem for a path: [[localFs]] for the `file` scheme; otherwise
    * Hadoop's resolution through the Spark session's Hadoop conf when one
    * exists (cluster credentials, fs.defaultFS), a vanilla conf if not.
    */
  private[graft] def fsOf(p: Path): FileSystem = {
    val conf = hadoopConf
    val scheme = Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") localFs else p.getFileSystem(conf)
  }

  /** The table layer's one Spark write: `df` as parquet at `path`. */
  private[graft] def writeParquet(df: Dataset[_], path: Path, mode: String,
      partitionCols: String*): Unit = {
    val w = df.write.options(localFsSettings).mode(mode)
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)).parquet(path.toString)
  }

  /** Buckets already committed (ledger record exists). */
  def committedBuckets(root: String): Set[Int] = {
    val dir = ledgerDir(root)
    val fs = fsOf(dir)
    if (!fs.isDirectory(dir)) return Set.empty
    fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("bucket-") && s.endsWith(".json") =>
        s.stripPrefix("bucket-").stripSuffix(".json").toInt
      }
      .toSet
  }

  /** Resume filter: drop rows of already-committed buckets. The committed
    * set is tiny, so Catalyst folds `isin` into the scan as a pushed
    * predicate — the distributed-join analog is a broadcast left_anti,
    * which this degenerates to (SURVEY.md par 2.9 "resume").
    */
  def resumeFilter(bucketed: DataFrame, root: String): DataFrame = {
    val done = committedBuckets(root)
    if (done.isEmpty) bucketed
    else bucketed.filter(!org.apache.spark.sql.functions.col("bucket").isin(done.toSeq: _*))
  }

  /** Per-bucket row counts by (engine, status), tallied DURING the result
    * write — no second scan of the staged parquet. The adds run in the
    * write job's result tasks, whose accumulator updates Spark applies
    * once per partition even when a task is retried, so the counts are
    * exact: they are the ledger's lineage AND the run's status metrics.
    */
  private final class BucketStatsAcc
      extends AccumulatorV2[ResultRow, Map[Int, Map[(String, String), Long]]] {
    private val m = scala.collection.mutable.HashMap.empty[(Int, String, String), Long]
    private def bump(k: (Int, String, String), n: Long): Unit = m.update(k, m.getOrElse(k, 0L) + n)
    def isZero: Boolean = m.isEmpty
    def copy(): BucketStatsAcc = {
      val c = new BucketStatsAcc
      c.m ++= m
      c
    }
    def reset(): Unit = m.clear()
    def add(r: ResultRow): Unit = bump((r.bucket, r.engine, r.status), 1L)
    def merge(other: AccumulatorV2[ResultRow, Map[Int, Map[(String, String), Long]]]): Unit =
      other.value.foreach { case (b, counts) =>
        counts.foreach { case ((engine, status), n) => bump((b, engine, status), n) }
      }
    def value: Map[Int, Map[(String, String), Long]] =
      m.toSeq.groupMap(_._1._1) { case ((_, engine, status), n) => (engine, status) -> n }
        .view.mapValues(_.toMap).toMap
  }

  private def ledgerPath(root: String, bucket: Int): Path =
    new Path(ledgerDir(root), s"bucket-$bucket.json")

  /** A ledger record; `status_counts` is a sorted list of
    * `[engine, status, n]` triples.
    */
  private def ledgerJson(lg: BucketLedger): String = {
    val counts = lg.statusCounts.toSeq
      .sortBy { case ((engine, status), _) => (Option(engine), Option(status)) }
      .map { case ((engine, status), n) => Seq(engine, status, n) }
    MetaJson.write(MetaJson.obj("bucket" -> lg.bucket, "run_id" -> lg.runId, "rows" -> lg.rows,
      "ok_rows" -> lg.okRows, "committed_at_ms" -> lg.committedAtMs, "status_counts" -> counts))
  }

  /** The table layer's one staging write: `rows` as parquet under
    * `staging`, partitioned by bucket, with each bucket's (engine,
    * status) counts tallied in the same pass (request-counter parity,
    * SURVEY.md par 2.4 item 18) — no second job over the staged rows.
    */
  private def stageTallied(rows: Dataset[ResultRow], staging: Path, runId: String)
      (implicit spark: SparkSession): Map[Int, Map[(String, String), Long]] = {
    import spark.implicits._
    val acc = new BucketStatsAcc
    spark.sparkContext.register(acc, s"bucketStats-$runId")
    writeParquet(rows.map { r => acc.add(r); r }, staging, "overwrite", "bucket")
    acc.value
  }

  /** Write results with per-bucket atomic commits; returns committed
    * bucket ledgers. `failAfterBuckets` injects a mid-commit crash for the
    * resume test.
    */
  def writeCommitted(
      results: Dataset[ResultRow],
      root: String,
      runId: String,
      inputPath: String,
      failAfterBuckets: Option[Int] = None,
  )(implicit spark: SparkSession): Seq[BucketLedger] = {
    requireRunId(runId)
    val t0 = System.currentTimeMillis()
    val staging = stagingDir(root, runId)
    val fs = fsOf(new Path(root))
    fs.mkdirs(staging)
    fs.mkdirs(dataDir(root))
    fs.mkdirs(ledgerDir(root))
    fs.mkdirs(snapshotsDir(root))
    val stats = stageTallied(results, staging, runId)

    val bucketDirs =
      (if (fs.isDirectory(staging)) fs.listStatus(staging).toSeq else Seq.empty)
        .map(_.getPath)
        .filter(_.getName.startsWith("bucket="))
        .sortBy(_.getName.stripPrefix("bucket=").toInt)

    val already = committedBuckets(root)
    val ledgers = Seq.newBuilder[BucketLedger]
    var committed = 0

    bucketDirs.foreach { src =>
      val b = src.getName.stripPrefix("bucket=").toInt
      failAfterBuckets.foreach { k =>
        if (committed >= k) throw new RuntimeException(s"injected failure after $k bucket commits")
      }
      if (!already.contains(b)) {
        val dst = new Path(dataDir(root), s"bucket=$b")
        if (fs.exists(dst)) fs.delete(dst, true) // stale partial from a dead run
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"commit rename failed: $src -> $dst")
        val lg = BucketLedger(b, runId, System.currentTimeMillis(), stats.getOrElse(b, Map.empty))
        atomicWrite(ledgerPath(root, b), ledgerJson(lg))
        ledgers += lg
        committed += 1
      }
    }

    val ls = ledgers.result()
    commitSnapshot(root, runId, inputPath, t0, ls, results.schema, previouslyCommitted = Some(already))
    ls
  }

  /** The one receipt writer, behind both commit paths: numbers the
    * snapshot, writes its receipt `_snapshots/<runId>.json`, re-derives
    * the Iceberg projection and deletes the run's staging. An append
    * (`previouslyCommitted` given) records the Spark app id, the buckets
    * committed before it and its rate; an overwrite records `op` instead.
    */
  private def commitSnapshot(root: String, runId: String, input: String, t0: Long,
      ledgers: Seq[BucketLedger], schema: StructType, previouslyCommitted: Option[Set[Int]])
      (implicit spark: SparkSession): Unit = {
    val wallMs = System.currentTimeMillis() - t0
    val rows = ledgers.map(_.rows).sum
    // data sequence number, PERSISTED in the receipt (not derived from
    // list position): snapshot expiry deletes old receipts, and Iceberg
    // semantics require the survivors to KEEP their sequence numbers —
    // a position-derived number would silently renumber history
    val seq = (snapshotHistory(root).map(_.seq) :+ 0L).max + 1
    // post-commit whole-table row count, PERSISTED: overwrite snapshots
    // (applyChanges) report post-rewrite counts in `rows`, so the Iceberg
    // summary's total-records cannot be a cumulative sum of `rows` across
    // history — each receipt carries the ledger sum as of its commit.
    // Cost: one O(#buckets) ledger sweep per commit — the same metadata
    // plane readAsOf/readIncremental already walk (a crashed run leaves
    // committed ledgers with NO snapshot receipt, so no receipt-delta
    // shortcut is sound); beyond ~10^5 buckets the `format("iceberg")`
    // swap's manifest lists are the intended path
    val tableRows = bucketLedgers(root).map(_.rows).sum
    val receipt: Seq[(String, Any)] =
      Seq("run_id" -> runId, "input" -> input, "seq" -> seq) ++
        (if (previouslyCommitted.isDefined) Seq("app_id" -> spark.sparkContext.applicationId)
        else Seq("op" -> "overwrite")) ++
        Seq("committed_buckets" -> ledgers.map(_.bucket)) ++
        previouslyCommitted.map(p => "previously_committed" -> p.toSeq.sorted) ++
        Seq("rows" -> rows, "ok_rows" -> ledgers.map(_.okRows).sum, "table_rows" -> tableRows,
          "wall_ms" -> wallMs,
          "docs_per_sec" -> (if (previouslyCommitted.isDefined && wallMs > 0) rows * 1000.0 / wallMs else 0.0),
          "committed_at_ms" -> System.currentTimeMillis())
    atomicWrite(new Path(snapshotsDir(root), s"$runId.json"), MetaJson.write(MetaJson.obj(receipt: _*)))
    // project the (updated) commit history as Iceberg-v2 table metadata —
    // derivation-only, so a crash between the receipt above and here
    // costs nothing (the next commit re-derives the full history)
    commitIcebergMetadata(root, schema)
    fsOf(new Path(root)).delete(stagingDir(root, runId), true)
  }

  /** Committed results (data/ holds only committed buckets by construction). */
  def readResults(root: String)(implicit spark: SparkSession): DataFrame =
    spark.read
      .option("basePath", dataDir(root).toString)
      .parquet(dataDir(root).toString)

  /** The JSON metadata files in `dir` whose names pass `keep`, parsed. A
    * file that is not a JSON object throws.
    */
  private def readMetaFiles(dir: Path, keep: String => Boolean): Seq[(Path, JsonNode)] = {
    val fs = fsOf(dir)
    if (!fs.isDirectory(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.filter(st => keep(st.getPath.getName)).map { st =>
      val in = fs.open(st.getPath)
      val j = try MetaJson.mapper.readTree(in) finally in.close()
      if (j == null || !j.isObject) throw new java.io.IOException(s"${st.getPath}: not a JSON object")
      st.getPath -> j
    }
  }

  private def field(j: JsonNode, k: String, p: Path): JsonNode =
    Option(j.get(k)).getOrElse(throw new java.io.IOException(s"$p: missing $k"))

  private def num(j: JsonNode, k: String, p: Path): Long = {
    val v = field(j, k, p)
    if (!v.isIntegralNumber) throw new java.io.IOException(s"$p: $k is not an integer")
    v.asLong
  }

  private def str(j: JsonNode, k: String, p: Path): String = {
    val v = field(j, k, p)
    if (!v.isTextual) throw new java.io.IOException(s"$p: $k is not a string")
    v.textValue
  }

  /** Parsed ledger records of all committed buckets (the table's commit
    * history — one record per bucket, fields as written by
    * [[writeCommitted]]). A record without its status counts, or whose
    * counts do not sum to its rows, throws.
    */
  def bucketLedgers(root: String): Seq[BucketLedger] =
    readMetaFiles(ledgerDir(root), n => n.startsWith("bucket-") && n.endsWith(".json")).map { case (p, j) =>
      val counts = field(j, "status_counts", p).elements.asScala.map { e =>
        def text(v: JsonNode): String =
          if (v.isNull) null
          else if (v.isTextual) v.textValue
          else throw new java.io.IOException(s"$p: malformed status_counts entry $e")
        if (!e.isArray || e.size != 3 || !e.get(2).isIntegralNumber)
          throw new java.io.IOException(s"$p: malformed status_counts entry $e")
        (text(e.get(0)), text(e.get(1))) -> e.get(2).asLong
      }.toMap
      val lg = BucketLedger(num(j, "bucket", p).toInt, str(j, "run_id", p),
        num(j, "committed_at_ms", p), counts)
      if (lg.rows != num(j, "rows", p))
        throw new java.io.IOException(s"$p: status_counts sum to ${lg.rows}, rows says ${num(j, "rows", p)}")
      lg
    }.sortBy(_.bucket)

  /** Whole-table row counts by (engine, status), summed from the bucket
    * ledgers: O(#buckets), and no file under `data/` is read.
    */
  def statusCounts(root: String): Map[(String, String), Long] =
    bucketLedgers(root).flatMap(_.statusCounts).groupMapReduce(_._1)(_._2)(_ + _)

  /** Time-travel read: the table as of a past instant — only buckets whose
    * ledger commit time is <= `asOfMs` (the stand-in for Iceberg's
    * `VERSION AS OF`/`TIMESTAMP AS OF`; bucket ledgers are this layer's
    * snapshot log, and a bucket is immutable once committed). Partition
    * pruning is structural: only the selected bucket directories are even
    * listed, so a narrow time-travel read of a 10^12-doc table scans just
    * the buckets that existed then.
    */
  def readAsOf(root: String, asOfMs: Long)(implicit spark: SparkSession): DataFrame =
    readBuckets(root,
      bucketLedgers(root).filter(_.committedAtMs <= asOfMs).map(_.bucket))

  /** Structural-pruning read of an explicit bucket subset — the shared
    * tail of [[readAsOf]] and [[readIncremental]]: only the named bucket
    * directories are listed/read; an empty pick yields an empty frame of
    * the results schema. A picked bucket is skipped ONLY when its ledger
    * records rows=0 — the one state where a committed bucket legitimately
    * has no data directory ([[applyChanges]] deleted its every row). A
    * bucket whose ledger says rows>0 but whose directory is missing is a
    * crash window awaiting [[repairCompaction]] or real data loss, and
    * the read must throw LOUDLY (Spark's PATH_NOT_FOUND), never return a
    * silently partial table. The distinction costs one O(#buckets)
    * ledger sweep — the metadata plane readAsOf/readIncremental walk
    * anyway.
    */
  private def readBuckets(root: String, picked: Seq[Int])
      (implicit spark: SparkSession): DataFrame = {
    val zeroRows = bucketLedgers(root).filter(_.rows == 0L).map(_.bucket).toSet
    val keep = picked.filterNot(zeroRows)
    if (keep.isEmpty) {
      import spark.implicits._
      spark.emptyDataset[ResultRow].toDF()
    } else
      spark.read
        .option("basePath", dataDir(root).toString)
        .parquet(keep.map(b => new Path(dataDir(root), s"bucket=$b").toString): _*)
  }

  /** Row-level UPSERT + DELETE via copy-on-write bucket rewrite — the
    * merge-on-write half of the table layer (Iceberg v2's
    * MERGE INTO/DELETE FROM analog at bucket granularity): re-extracted
    * pages replace their previous rows by url, takedown/expired urls
    * disappear, untouched buckets are never read or written.
    *
    * Protocol: affected buckets = distinct buckets across both change
    * sets (bucket-cardinality, a driver scalar); ONE Spark job reads
    * exactly those bucket directories, anti-joins the change keys by
    * url, unions the upsert rows, and stages the rewritten buckets,
    * tallying their ledger counts in the same pass ([[stageTallied]]);
    * then per bucket [[swapBucket]] (old dir -> `_maintenance/trash-N`,
    * staged dir in, delete trash) replaces the directory and the ledger
    * record is rewritten under this `runId` (a bucket whose rows all
    * died ends with no data dir and a rows=0 ledger; [[readBuckets]]
    * skips the absent dir). A crash at ANY point is recoverable: before the move-aside the table
    * is untouched; between the renames the committed data sits in
    * trash-N, which [[repairCompaction]] — run first thing here and in
    * [[compact]] — renames back; after the swap-in the bucket is the
    * new data and only trash cleanup remains. A snapshot receipt with
    * op=`overwrite` joins the history, so the Iceberg metadata
    * projection reports the operation exactly as `expire_snapshots`-era
    * readers expect. Re-running the same change set is idempotent
    * (upsert-by-key + delete-by-key), including against a
    * crash-interrupted previous attempt (mixed old/new buckets repair
    * to a readable state first, and the change application converges on
    * both).
    *
    * Documented trade (sandbox stand-in): copy-on-write REPLACES the
    * bucket files, so [[readAsOf]] time travel no longer reproduces a
    * rewritten bucket's pre-change state — real Iceberg retains the old
    * files until snapshot expiry; that restoration is part of the
    * `format("iceberg")` reader swap, not this layer's contract.
    *
    * Scale shape: cost is O(affected buckets), never O(table); the
    * anti-join keys are (url) pairs hash-joined inside the affected
    * slice; with url-hash bucketing a change set touching k urls
    * rewrites at most k buckets.
    */
  def applyChanges(root: String, upserts: Dataset[ResultRow],
      deleteUrls: DataFrame, runId: String,
      failDuringSwapOf: Option[Int] = None)
      (implicit spark: SparkSession): Seq[Int] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    requireRunId(runId)
    val t0 = System.currentTimeMillis()
    val fs = fsOf(new Path(root))
    repairCompaction(root) // self-heal a crashed swap before reading
    val up = upserts.toDF()
    val affected: Seq[Int] =
      up.select(col("bucket").cast("int"))
        .union(deleteUrls.select(col("bucket").cast("int")))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) return Seq.empty
    val committed = committedBuckets(root)
    require(affected.forall(committed.contains),
      s"applyChanges targets uncommitted buckets: ${affected.filterNot(committed.contains).mkString(",")}" +
        " — route inserts to new buckets through writeCommitted")
    val staging = stagingDir(root, runId)
    fs.mkdirs(staging)
    val current = readBuckets(root, affected)
    val changeKeys = up.select(col("url"))
      .union(deleteUrls.select(col("url"))).distinct()
    val next = current.join(changeKeys, Seq("url"), "left_anti")
      .unionByName(up.select(current.columns.map(col).toIndexedSeq: _*))
    val stats = stageTallied(next.as[ResultRow], staging, runId)
    val ledgers = affected.map { b =>
      swapBucket(root, b, new Path(staging, s"bucket=$b"), crashBetween = failDuringSwapOf.contains(b))
      val lg = BucketLedger(b, runId, System.currentTimeMillis(), stats.getOrElse(b, Map.empty))
      atomicWrite(ledgerPath(root, b), ledgerJson(lg))
      lg
    }
    commitSnapshot(root, runId, "applyChanges", t0, ledgers, upserts.schema, previouslyCommitted = None)
    affected
  }

  /** Incremental read — rows in buckets committed AFTER `sinceMs` and at
    * or before `untilMs`: the Iceberg incremental-scan analog, and the
    * consumption pattern every DOWNSTREAM job wants against a long-lived
    * results table (process only what the last run hasn't seen; `sinceMs`
    * = the consumer's stored high-watermark, `untilMs` = the snapshot it
    * advances to). Bucket selection is ledger-driven — structural
    * partition pruning: only the new buckets' directories are listed or
    * read, so an incremental pass over a 10^12-row table costs O(new
    * data), not O(table). Commit-time granularity is the bucket (the
    * atomic commit unit), matching Iceberg's snapshot granularity.
    */
  def readIncremental(root: String, sinceMs: Long, untilMs: Long = Long.MaxValue)
      (implicit spark: SparkSession): DataFrame = {
    require(sinceMs <= untilMs, "sinceMs must be <= untilMs")
    readBuckets(root, bucketLedgers(root)
      .filter(l => l.committedAtMs > sinceMs && l.committedAtMs <= untilMs)
      .map(_.bucket))
  }

  def maintenanceDir(root: String): Path = new Path(root, "_maintenance")

  /** The one bucket swap, behind [[applyChanges]] and [[compact]] and
    * undone by [[repairCompaction]]: move `data/bucket=b` aside to
    * `_maintenance/trash-b`, rename `src` in, delete the trash. Either
    * directory may be absent: with no committed directory nothing moves
    * aside, and with no `src` (every row of the bucket died) the bucket
    * stays absent. A failed swap-in renames the trash back.
    * `crashBetween` throws between the two renames (the crash-repair
    * tests' hook).
    */
  private def swapBucket(root: String, b: Int, src: Path, crashBetween: Boolean = false): Unit = {
    val dst = new Path(dataDir(root), s"bucket=$b")
    val trash = new Path(maintenanceDir(root), s"trash-$b")
    val fs = fsOf(dst)
    fs.mkdirs(maintenanceDir(root))
    if (fs.exists(trash)) fs.delete(trash, true) // stale (repair already ran)
    if (fs.exists(dst) && !fs.rename(dst, trash))
      throw new java.io.IOException(s"bucket swap: move-aside failed for bucket $b")
    if (crashBetween)
      throw new RuntimeException(s"injected crash between the two renames of bucket $b")
    if (fs.exists(src) && !fs.rename(src, dst)) {
      if (fs.exists(trash) && !fs.rename(trash, dst)) // restore — table state unchanged
        throw new java.io.IOException(
          s"bucket swap: swap-in AND restore failed for bucket $b — data is in $trash; " +
            "run repairCompaction")
      throw new java.io.IOException(s"bucket swap: swap-in failed for bucket $b (restored)")
    }
    fs.delete(trash, true)
  }

  /** Crash recovery for the move-aside two-rename swap shared by
    * [[compact]] and [[applyChanges]]: restore any bucket whose
    * move-aside survived but whose swap-in didn't, and sweep leftovers.
    * `_maintenance/trash-N` with `data/bucket=N` absent means the crash
    * hit between the renames — the trash IS the committed data, rename it
    * back; with `data/bucket=N` present the swap completed and the trash
    * is the superseded copy — delete it. Orphan `compact-N` rewrite dirs
    * are garbage (an applyChanges staging dir is NOT: it lives under
    * `_staging` and is TTL-swept by [[expire]] like any dead run's).
    * Runs automatically at every [[compact]] and [[applyChanges]] entry,
    * so the first maintenance pass after a crash self-heals; kept public
    * as the operator's explicit recovery hook. Returns buckets restored.
    *
    * Lives under `_maintenance`, NOT `_staging`: [[expire]] TTL-sweeps
    * _staging, and TTL-deleting a not-yet-restored trash dir would make a
    * crash loss permanent (the ledger says committed, so nothing would
    * ever rewrite the bucket).
    */
  def repairCompaction(root: String): Int = {
    val dir = maintenanceDir(root)
    val fs = fsOf(dir)
    if (!fs.isDirectory(dir)) return 0
    var restored = 0
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("trash-")) {
        val dst = new Path(dataDir(root), s"bucket=${name.stripPrefix("trash-")}")
        if (!fs.exists(dst)) {
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(s"repair: restore failed: ${st.getPath} -> $dst")
          restored += 1
        } else fs.delete(st.getPath, true)
      } else if (name.startsWith("compact-")) fs.delete(st.getPath, true)
    }
    restored
  }

  /** Small-file compaction — the table-maintenance job a long-lived
    * 100 TB table needs (many runs x many buckets => many small parquet
    * files; scan cost and NameNode/object-store metadata pressure grow
    * with file COUNT, not bytes). Rewrites each committed bucket holding
    * more than `maxFilesPerBucket` data files into exactly
    * `maxFilesPerBucket`, preserving rows byte-for-byte and the ledger
    * (rows/lineage are unchanged — compaction is not a commit).
    *
    * Swap protocol per bucket: rewrite into `_maintenance/compact-N`,
    * then [[swapBucket]] (old dir to `_maintenance/trash-N`, new dir in,
    * delete trash). Every failure mode is recoverable: a failed swap-in
    * restores the old dir in-line (rename back, checked); a CRASH
    * between the two renames leaves the data in trash-N, which
    * [[repairCompaction]] — run first thing on every compact() —
    * renames back. Readers racing
    * the two renames can observe the bucket absent (same caveat as any
    * Spark/Hive rename-based maintenance; the Iceberg swap makes it
    * snapshot-atomic). Returns the number of buckets rewritten.
    */
  def compact(root: String, maxFilesPerBucket: Int = 1)(implicit spark: SparkSession): Int = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    val data = dataDir(root)
    val fs = fsOf(data)
    repairCompaction(root)
    if (!fs.isDirectory(data)) return 0
    var n = 0
    fs.listStatus(data).filter(_.getPath.getName.startsWith("bucket=")).foreach { st =>
      val dataFiles = fs.listStatus(st.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (dataFiles.length > maxFilesPerBucket) {
        val b = st.getPath.getName.stripPrefix("bucket=").toInt
        val tmp = new Path(maintenanceDir(root), s"compact-$b")
        writeParquet(spark.read.parquet(st.getPath.toString).coalesce(maxFilesPerBucket),
          tmp, "overwrite")
        swapBucket(root, b, tmp)
        n += 1
      }
    }
    n
  }

  /** Retention sweep — the reference's TTL cleanup loop
    * (/root/reference/src/services/cleanup.py:22-58, 48 h TTL) as a
    * scheduled maintenance call: expire old snapshots and orphaned staging.
    */
  def expire(root: String, ttlMs: Long, nowMs: Long = System.currentTimeMillis()): Int = {
    var n = 0
    val fs = fsOf(new Path(root))
    val snaps = snapshotsDir(root)
    if (fs.isDirectory(snaps)) {
      fs.listStatus(snaps).foreach { st =>
        if (nowMs - st.getModificationTime > ttlMs && !st.isSymlink) {
          if (fs.delete(st.getPath, false)) {
            n += 1
            // the receipt IS the snapshot's truth: drop its (now
            // orphaned) Iceberg manifest list too. Surviving snapshots
            // keep their PERSISTED sequence numbers, so the metadata
            // re-derived at the next commit shows the expiry exactly as
            // Iceberg's expire_snapshots would (gaps in the sequence,
            // not a renumbering)
            val runId = st.getPath.getName.stripSuffix(".json")
            fs.delete(new Path(metadataDir(root),
              s"snap-${snapshotIdOf(runId)}-manifest-list.json"), false)
          }
        }
      }
    }
    val stg = new Path(root, "_staging")
    if (fs.isDirectory(stg)) {
      fs.listStatus(stg).foreach { st =>
        if (nowMs - st.getModificationTime > ttlMs) {
          if (fs.delete(st.getPath, true)) n += 1
        }
      }
    }
    n
  }

  // ---- Iceberg-spec metadata projection --------------------------------
  // The custom ledger/_snapshots machinery above is this layer's commit
  // TRUTH; the files below are the same history re-expressed as Iceberg
  // format-version-2 table metadata (JSON, per the spec's TableMetadata
  // serialization) so the promised `format("iceberg")` swap is a READER
  // change: an Iceberg catalog pointed at `metadata/` sees the table
  // uuid, schema with field-ids, the bucket identity partition spec, the
  // full snapshot history with sequence numbers and summaries, and a
  // manifest-list per snapshot whose entries point at the per-bucket
  // ledger receipts. Documented deviation (sandbox: no Iceberg/Avro
  // jars): manifest lists and manifests are JSON, not Avro — the one
  // remaining writer change for a byte-level Iceberg commit.

  def metadataDir(root: String): Path = new Path(root, "metadata")

  /** Stable positive snapshot id for a run (FNV-1a over the run id —
    * deterministic so re-deriving metadata never renumbers history).
    */
  def snapshotIdOf(runId: String): Long = {
    var h = 0xcbf29ce484222325L
    runId.getBytes(StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xffL); h *= 0x100000001b3L
    }
    h & Long.MaxValue
  }

  /** The Iceberg schema of a Spark struct, in one walk that assigns
    * field, element, key and value ids in pre-order (the spec's
    * convention: an id is taken before anything nested in it): the
    * schema-0 type tree, the last id assigned, and the id of the
    * top-level `bucket` field.
    */
  private def icebergSchema(schema: StructType): (ObjectNode, Int, Int) = {
    import org.apache.spark.sql.types._
    var last = 0
    var bucketId = -1
    def next(): Int = { last += 1; last }
    def typ(dt: DataType): Any = dt match {
      case StringType => "string"
      case IntegerType => "int"
      case LongType => "long"
      case DoubleType => "double"
      case FloatType => "float"
      case BooleanType => "boolean"
      case BinaryType => "binary"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      case DateType => "date"
      case s: StructType =>
        MetaJson.obj("type" -> "struct", "fields" -> s.fields.toSeq.map { f =>
          val id = next()
          if ((s eq schema) && f.name == "bucket" && bucketId < 0) bucketId = id
          MetaJson.obj("id" -> id, "name" -> f.name, "required" -> !f.nullable, "type" -> typ(f.dataType))
        })
      case a: ArrayType =>
        val eid = next()
        MetaJson.obj("type" -> "list", "element-id" -> eid,
          "element-required" -> !a.containsNull, "element" -> typ(a.elementType))
      case m: MapType =>
        val kid = next(); val vid = next()
        MetaJson.obj("type" -> "map", "key-id" -> kid, "key" -> typ(m.keyType),
          "value-id" -> vid, "value-required" -> !m.valueContainsNull, "value" -> typ(m.valueType))
      case other =>
        throw new IllegalArgumentException(s"no Iceberg mapping for $other")
    }
    val tree = MetaJson.obj("schema-id" -> 0).setAll[ObjectNode](typ(schema).asInstanceOf[ObjectNode])
    require(bucketId > 0, "results schema must carry a bucket column")
    (tree, last, bucketId)
  }

  private final case class SnapRec(runId: String, rows: Long, okRows: Long,
      tsMs: Long, buckets: Seq[Int], seq: Long, op: String, tableRows: Long)

  /** Committed-run history, parsed from the `_snapshots/` receipts the
    * commit protocol writes. Ordered by commit time.
    */
  private def snapshotHistory(root: String): Seq[SnapRec] = {
    readMetaFiles(snapshotsDir(root), _.endsWith(".json")).map { case (p, j) =>
      def optNum(k: String): Long = if (j.has(k)) num(j, k, p) else -1L
      val buckets = Option(j.get("committed_buckets")).toSeq.flatMap(_.elements.asScala.map(_.asInt))
      SnapRec(str(j, "run_id", p), num(j, "rows", p), num(j, "ok_rows", p),
        num(j, "committed_at_ms", p), buckets,
        optNum("seq"), // pre-seq receipts: numbered below
        if (j.has("op")) str(j, "op", p) else "append",
        optNum("table_rows")) // pre-r5 receipts: unknown
    }.sortBy(r => (r.tsMs, r.runId)) match {
      // receipts written before the seq field (or hand-placed) get
      // positional numbers filled monotonically AFTER the persisted ones
      case recs =>
        var nextSeq = (recs.map(_.seq) :+ 0L).max
        recs.map { r =>
          if (r.seq > 0) r
          else { nextSeq += 1; r.copy(seq = nextSeq) }
        }.sortBy(_.seq)
    }
  }

  /** Re-derive the Iceberg metadata files from the commit history: one
    * JSON manifest list per snapshot (entries point at the bucket
    * ledgers that run committed), one new `v<N>.metadata.json` (N =
    * snapshot count) carrying the full history, and `version-hint.text`
    * (the HadoopCatalog current-version convention). Idempotent and
    * derivation-only — re-running after any commit produces the same
    * ids and sequence numbers, and deleting `metadata/` loses nothing
    * (the ledger receipts remain the truth).
    */
  def commitIcebergMetadata(root: String, schema: StructType): Path = {
    val history = snapshotHistory(root)
    require(history.nonEmpty, s"no committed snapshots under $root")
    val mdir = metadataDir(root)
    val fs = fsOf(mdir)
    fs.mkdirs(mdir)
    // manifest lists (one per snapshot; skip ones already written)
    history.foreach { sn =>
      val sid = snapshotIdOf(sn.runId)
      val p = new Path(mdir, s"snap-$sid-manifest-list.json")
      if (!fs.exists(p))
        atomicWrite(p, MetaJson.write(sn.buckets.map { b =>
          MetaJson.obj("manifest_path" -> ledgerPath(root, b).toString,
            "partition_spec_id" -> 0, "content" -> 0, "sequence_number" -> sn.seq,
            "added_snapshot_id" -> sid,
            "partitions" -> Seq(MetaJson.obj("contains_null" -> false, "lower_bound" -> b, "upper_bound" -> b)))
        }))
    }
    val (schemaTree, lastColumnId, bucketSourceId) = icebergSchema(schema)
    val uuid = java.util.UUID.nameUUIDFromBytes(
      ("graft-table:" + new Path(root).toUri.getPath)
        .getBytes(StandardCharsets.UTF_8)).toString
    // running whole-table size: receipts carry the post-commit ledger sum
    // (`table_rows`); pre-r5 receipts without it fall back to the
    // append-cumulative estimate. An overwrite snapshot's `rows` is the
    // post-rewrite count of its affected buckets — added-records (records
    // in the files the snapshot added) is exactly that, and
    // deleted-records (records in the files it removed) falls out of the
    // running totals: prev + added - total.
    var running = 0L
    var havePrev = false // false until >=1 snapshot processed: expiry can
    // delete a snapshot's predecessors, and without them the pre-image of
    // the FIRST survivor is unknowable — deleted-records is then omitted
    // (an optional summary field) rather than derived from a prev of 0,
    // which would go negative for any surviving overwrite
    val snapsJson = history.map { sn =>
      val sid = snapshotIdOf(sn.runId)
      val prev = running
      running = if (sn.tableRows >= 0) sn.tableRows else running + sn.rows
      val deleted = math.max(0L, prev + sn.rows - running)
      val emitDeleted = sn.op == "overwrite" && sn.tableRows >= 0 && havePrev
      havePrev = true
      MetaJson.obj("snapshot-id" -> sid, "sequence-number" -> sn.seq,
        "timestamp-ms" -> sn.tsMs, "schema-id" -> 0,
        "manifest-list" -> new Path(mdir, s"snap-$sid-manifest-list.json").toString,
        "summary" -> MetaJson.obj(Seq("operation" -> sn.op,
          "added-data-files" -> sn.buckets.length.toString,
          "added-records" -> sn.rows.toString) ++
          Option.when(emitDeleted)("deleted-records" -> deleted.toString) :+
          ("total-records" -> running.toString): _*))
    }
    val version = history.map(_.seq).max
    val md = MetaJson.obj(
      "format-version" -> 2, "table-uuid" -> uuid, "location" -> root,
      "last-sequence-number" -> version,
      "last-updated-ms" -> history.last.tsMs,
      "last-column-id" -> lastColumnId,
      "schemas" -> Seq(schemaTree), "current-schema-id" -> 0,
      "partition-specs" -> Seq(MetaJson.obj("spec-id" -> 0, "fields" -> Seq(MetaJson.obj(
        "name" -> "bucket", "transform" -> "identity", "source-id" -> bucketSourceId,
        "field-id" -> 1000)))),
      "default-spec-id" -> 0, "last-partition-id" -> 1000,
      "sort-orders" -> Seq(MetaJson.obj("order-id" -> 0, "fields" -> Seq.empty)),
      "default-sort-order-id" -> 0,
      "properties" -> MetaJson.obj("write.format.default" -> "parquet"),
      "current-snapshot-id" -> snapshotIdOf(history.last.runId),
      "snapshots" -> snapsJson,
      "snapshot-log" -> history.map(sn =>
        MetaJson.obj("timestamp-ms" -> sn.tsMs, "snapshot-id" -> snapshotIdOf(sn.runId))),
      "metadata-log" -> Seq.empty)
    val out = new Path(mdir, s"v$version.metadata.json")
    atomicWrite(out, MetaJson.write(md))
    atomicWrite(new Path(mdir, "version-hint.text"), version.toString)
    out
  }

  /** Write-temp-then-rename through the Hadoop FS. `rename` will not
    * replace an existing file, so an existing `path` is deleted first, and
    * that replace path is not atomic: between the delete and the rename,
    * `path` is absent, and a crash there leaves only `<name>.tmp`. It
    * runs whenever a file is rewritten, not only for identical content:
    * [[applyChanges]] rewrites `_ledger/bucket-N.json` with a new run id
    * and new counts, and every commit rewrites
    * `metadata/version-hint.text`. While a ledger is absent its bucket
    * reads as uncommitted.
    */
  def atomicWrite(path: Path, content: String): Unit = {
    val fs = fsOf(path)
    val tmp = new Path(path.getParent, path.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(path)) fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"atomic write rename failed: $tmp -> $path")
  }
}

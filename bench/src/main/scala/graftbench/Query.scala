package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** query_sweep: a closed loop over a fixed, named list of
  * `SparkEntry.queries`, one from each family, on the bundled sf0.1
  * documents plus generated TPC-H-shaped tables. Each query's action is a
  * full collect; its row count and order-independent content hash must
  * equal the fingerprint recorded in `queries.tsv`, or the query counts
  * as failed and its time is dropped. Caches are drained between queries.
  */
object Query {
  val Names: Seq[String] = Seq(
    "e17_windowed_counts",      // e: extraction spine + event-time windows
    "d2_dedup_minhash_lsh",     // d: MinHash/LSH near-dup
    "t38_kn_familiarity",       // t: n-gram language-model familiarity
    "m9_gzip_members",          // m: binary walker over synthesized payloads
    "p2_web_pipeline",          // p: composed web pipeline
    "q5_local_supplier_volume", // q: six-table relational join
  )
  // The tables are written this many times over the same directory, each
  // time timed, and setup_s is the median. The writes are the harness's
  // own (no program code is on the path); they are repeated only because
  // a single write is too noisy to gate.
  val SetupReps = 3

  /** TPC-H-shaped tables for the q family, a pure function of row index
    * (independent of the workload seed, so fingerprints stay fixed), next
    * to a copy of `docs`. `scale` 1 is sf0.1.
    */
  def writeTables(spark: SparkSession, dir: Path, docs: Path, scale: Double = 1.0): Unit = {
    Files.createDirectories(dir)
    Files.copy(docs, dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    def h(c: org.apache.spark.sql.Column, k: Int) = pmod(xxhash64(c, lit(k)), lit(1L << 30))
    def out(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    val day = 86400L
    val t0 = 694224000L // 1992-01-01
    out("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    out("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    out("supplier", spark.range(1, 1001).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"), (h(col("id"), 1) % 25).cast("int").as("s_nationkey"),
      (h(col("id"), 2) % 1100000 / 100.0 - 999.99).as("s_acctbal")))
    def n(rows: Long) = math.max(1L, (rows * scale).toLong)
    out("customer", spark.range(1, n(15000) + 1).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"), (h(col("id"), 3) % 25).cast("int").as("c_nationkey"),
      (h(col("id"), 4) % 1100000 / 100.0 - 999.99).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (h(col("id"), 5) % 5 + 1).cast("int")).as("c_mktsegment")))
    out("orders", spark.range(1, n(150000) + 1).select(col("id").as("o_orderkey"),
      (h(col("id"), 6) % n(15000) + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (h(col("id"), 7) % 3 + 1).cast("int")).as("o_orderstatus"),
      (h(col("id"), 8) % 50000000 / 100.0 + 900.0).as("o_totalprice"),
      timestamp_seconds(lit(t0) + h(col("id"), 9) % 2400 * day).as("o_orderdate"),
      concat((h(col("id"), 10) % 5 + 1).cast("string"), lit("-PRIORITY")).as("o_orderpriority")))
    out("lineitem", spark.range(0, n(600000)).select((col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (h(col("id"), 11) % 20000 + 1).as("l_partkey"), (h(col("id"), 12) % 1000 + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"), (h(col("id"), 13) % 50 + 1).cast("double").as("l_quantity"),
      (h(col("id"), 14) % 10000000 / 100.0 + 900.0).as("l_extendedprice"),
      (h(col("id"), 15) % 11 / 100.0).as("l_discount"), (h(col("id"), 16) % 9 / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(col("id"), 17) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (h(col("id"), 18) % 2 + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(t0) + h(col("id"), 19) % 2500 * day).as("l_shipdate")))
  }

  /** Order-independent fingerprint of collected rows: row count and a
    * 64-bit sum of per-row hashes. Doubles are compared to 9 significant
    * digits, so a change in summation order cannot flip the hash.
    */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
      case f: Float => if (f == 0.0f) "0" else String.format(java.util.Locale.ROOT, "%.6g", Double.box(f.toDouble))
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case x => x.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val d = java.security.MessageDigest.getInstance("SHA-256").digest(canon(r).getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  def loadFingerprints(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap

  final case class Timed(name: String, planS: Double, runS: Double, ok: Boolean)

  /** One query: build its DataFrame and force the physical plan, then
    * collect. Returns (plan seconds, collect seconds, fingerprint), or the
    * error and the seconds spent before it; the fingerprint is taken after
    * the clock stops, and the caches are drained before returning.
    */
  def runOne(c: Ctx, dir: String, name: String): Either[(Exception, Double), (Double, Double, (Long, String))] = {
    val spark = c.spark
    val t0 = System.nanoTime()
    val res = try {
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      Right(((t1 - t0) / 1e9, (t2 - t1) / 1e9, fingerprint(rows)))
    } catch { case e: Exception => Left((e, (System.nanoTime() - t0) / 1e9)) }
    graft.spark.Caches.drain()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    res
  }

  /** A timed query, checked against its recorded fingerprint. Its time goes
    * to stderr. A query that throws keeps the time it spent as `runS`, so
    * that the sweep loop still advances.
    */
  def checked(c: Ctx, dir: String, name: String, want: Option[(Long, String)],
      record: scala.collection.mutable.Map[String, (Long, String)]): Timed =
    runOne(c, dir, name) match {
      case Left((e, sec)) =>
        System.err.println(s"[bench] query $name failed: $e")
        Timed(name, 0, sec, ok = false)
      case Right((planS, runS, fp)) =>
        record(name) = fp
        System.err.println(f"[bench] query $name: plan $planS%.2f s, collect $runS%.2f s")
        val ok = want.contains(fp)
        if (!ok) System.err.println(s"[bench] query $name: fingerprint $fp, recorded ${want.getOrElse("none")}")
        Timed(name, planS, runS, ok)
    }

  /** `timedFrom` marks the task ledger where the timed sweeps begin. */
  final case class Sweep(attempted: Long, failed: Long, queries: Seq[Timed], sweepS: Seq[Double],
      setupS: Double, setupTotalS: Double, timedFrom: (Int, Int))

  /** Set up the tables, run one untimed warm-up sweep over the same
    * queries on sf0.001-sized tables (JIT and codegen, at a tenth of the
    * cost of a full sweep), then timed sweeps (whole sweeps only) until
    * `seconds` of query time has passed. The seed fixes the query order of
    * each sweep. Warm-up outputs are not fingerprinted.
    */
  def sweep(c: Ctx, fingerprints: Map[String, (Long, String)], seconds: Double,
      record: scala.collection.mutable.Map[String, (Long, String)], setupReps: Int = SetupReps): Sweep = {
    val fixture = c.benchDir.resolve("data").resolve("documents-sf0.1.parquet")
    val dir = c.work.resolve("query-tables")
    val setups = (0 until setupReps).map { _ =>
      val t0 = System.nanoTime()
      writeTables(c.spark, dir, fixture)
      (System.nanoTime() - t0) / 1e9
    }
    val warmDir = c.work.resolve("query-tables-warmup")
    writeTables(c.spark, warmDir, c.benchDir.resolve("data").resolve("documents-sf0.001.parquet"), 0.01)
    val want = c.corrupt match {
      case Some("fingerprint") => // a test hook: one recorded fingerprint is wrong
        fingerprints.updated(Names.head, (-1L, "0"))
      case _ => fingerprints
    }
    val rnd = new scala.util.Random(c.seed * 13 + 5)
    var attempted, failed = 0L
    def pass(): Seq[Timed] = rnd.shuffle(Names).map { n =>
      val t = checked(c, dir.toString, n, want.get(n), record)
      attempted += 1
      if (!t.ok) failed += 1
      t
    }
    Names.foreach(n => runOne(c, warmDir.toString, n))
    c.drainBus()
    val timedFrom = c.tasks.mark
    val timed = Seq.newBuilder[Timed]
    val sweeps = Seq.newBuilder[Double]
    var spent = 0.0
    while (spent < seconds) {
      val ts = pass()
      timed ++= ts
      spent += ts.map(t => t.planS + t.runS).sum
      sweeps += ts.filter(_.ok).map(t => t.planS + t.runS).sum
    }
    Sweep(attempted, failed, timed.result(), sweeps.result(), Stats.median(setups), setups.sum, timedFrom)
  }

  def run(c: Ctx, fingerprints: Map[String, (Long, String)],
      record: scala.collection.mutable.Map[String, (Long, String)]): Outcome = {
    val s = sweep(c, fingerprints, c.seconds, record)
    val ok = s.queries.filter(_.ok)
    Outcome(s.attempted, s.failed, Seq(
      "throughput_per_s" -> ok.size / ok.map(t => t.planS + t.runS).sum,
      "query_sweep.sweep_s_p50" -> Stats.median(s.sweepS),
      "setup_s" -> s.setupS,
      "query_sweep.timed_ok" -> ok.size.toDouble,
    ))
  }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: regex over query names, for fast local iteration
    // on a single new query (the driver always calls with 2 args = all)
    val nameFilter = if (args.length > 2) Some(args(2).r) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release each query's persisted frames (several ops cache
      // document-sized tables for intra-query branch reuse) — without
      // this the 60+-query session accumulates dead cached corpora in
      // executor storage. Caches.drain() is the library's own lifecycle
      // contract (every internal persist registers there); clearCache()
      // stays as the harness belt-and-suspenders for anything else.
      graft.spark.Caches.drain()
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql.toSeq
      .filter { case (k, _) => nameFilter.forall(_.findFirstIn(k).isDefined) }))
    spark.stop()
  }

  /** `oracle_sql.json`: query name -> oracle SQL. The codec escapes every
    * control character, so a tab or CR in an oracle's SQL still parses.
    */
  def oracleJson(oracles: Seq[(String, String)]): String =
    graft.spark.MetaJson.write(graft.spark.MetaJson.obj(oracles: _*))
}

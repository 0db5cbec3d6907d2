package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN when there is nothing. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Fixed-work probe of the host, run with every run so a slow host window
  * is visible next to the numbers it slowed: an integer ALU spin (seconds
  * for a fixed count) and a 64 MB array copy (GB/s). Context only.
  */
object HostProbe {
  def alu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("") // keeps the loop live
    sec
  }

  def copyGbps(): Double = {
    val n = 64 << 20
    val a = new Array[Byte](n)
    val b = new Array[Byte](n)
    java.util.Arrays.fill(a, 1.toByte)
    System.arraycopy(a, 0, b, 0, n) // touch both before timing
    val reps = 8
    val t0 = System.nanoTime()
    for (_ <- 0 until reps) System.arraycopy(a, 0, b, 0, n)
    val sec = (System.nanoTime() - t0) / 1e9
    reps.toDouble * n / sec / 1e9
  }

  def run(): Seq[(String, Double)] = Seq("host.alu_s" -> alu(), "host.copy_gbps" -> copyGbps())
}

/** JVM-wide counters for one workload: GC time, bytes allocated by live
  * threads, and peak heap use. Peaks are reset when the window opens.
  */
final class JvmWindow {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs = gcs.map(_.getCollectionTime).sum
  private def allocated: Long = {
    val ids = threads.getAllThreadIds
    threads.getThreadAllocatedBytes(ids).filter(_ > 0).sum
  }
  private val gc0 = gcMs
  private val alloc0 = allocated
  heapPools.foreach(_.resetPeakUsage())

  def metrics(prefix: String): Seq[(String, Double)] = Seq(
    s"$prefix.gc_s" -> (gcMs - gc0) / 1e3,
    s"$prefix.alloc_bytes" -> math.max(0L, allocated - alloc0).toDouble,
    s"$prefix.heap_peak_bytes" -> heapPools.map(_.getPeakUsage.getUsed).sum.toDouble,
  )
}

object Dirs {
  import java.nio.file.{Files, Path}
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally s.close()
    }

  /** (number of parquet files, total bytes) under a directory. */
  def parquetFilesAndBytes(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.count(_.getFileName.toString.endsWith(".parquet")).toLong, files.map(Files.size).sum)
    } finally s.close()
  }
}

package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task metrics gathered by a SparkListener the benchmark registers: one
  * record per finished task, plus job wall times, so a window of work can
  * be summarised after the fact (map vs reduce stage, shuffle, spill, GC).
  */
object TaskLedger {
  final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shWriteBytes: Long, shWriteRecords: Long, shReadBytes: Long, spillBytes: Long)

  final case class Job(startMs: Long, endMs: Long, stages: Set[Int])
}

final class TaskLedger extends SparkListener {
  import TaskLedger._

  private val tasks = ArrayBuffer.empty[Task]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, (Long, Set[Int])]
  private val jobs = ArrayBuffer.empty[Job]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.stageId, e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, e.stageIds.toSet)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, st) => jobs += Job(t, e.time, st) }
  }

  /** Position marker; pass to [[since]] to get only what happened after. */
  def mark: (Int, Int) = synchronized((tasks.size, jobs.size))
  def since(m: (Int, Int)): (Seq[Task], Seq[Job]) =
    synchronized((tasks.drop(m._1).toSeq, jobs.drop(m._2).toSeq))
}

/** Progress of every micro-batch of a streaming query, as Spark reports it. */
object BatchLedger {
  final case class Batch(id: Long, startMs: Long, rows: Long, durations: Map[String, Long]) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }
}

final class BatchLedger extends StreamingQueryListener {
  import BatchLedger._

  private val batches = ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val durs = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      .map { case (k, v) => k -> v.longValue() }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    // an idle trigger (no new files) reports progress too; only data batches count
    if (p.numInputRows > 0) synchronized { batches += Batch(p.batchId, start, p.numInputRows, durs) }
  }
  def all: Seq[Batch] = synchronized(batches.toSeq)
}

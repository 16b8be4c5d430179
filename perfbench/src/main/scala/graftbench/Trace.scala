package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records Spark's own events for the traced run: one entry per job
  * and per stage (task metrics summed per stage), the running size of
  * persisted blocks, and every streaming progress event. Timestamps
  * are epoch milliseconds, the clock Spark stamps its events with.
  *
  * All callbacks run on Spark's listener-bus threads; the harness reads
  * the buffers only behind a delivery barrier, and every access is
  * synchronized on this object.
  */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val stageAgg = mutable.Map.empty[(Int, Int), Agg]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockTotal = 0L
  private val blockSamples = mutable.ArrayBuffer.empty[(Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var streamsStarted = 0
  private var streamsEnded = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
    jobStart(e.jobId) = (e.time, tag, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, tag, stageIds) =>
      jobs += Map("job" -> e.jobId, "t0" -> t0, "t1" -> e.time,
        "tag" -> tag, "stages" -> stageIds)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new Agg)
    a.tasks += 1
    if (e.reason != Success) a.failed += 1
    a.firstLaunch = math.min(a.firstLaunch, e.taskInfo.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.resultBytes += m.resultSize
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRows += m.outputMetrics.recordsWritten
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = stageAgg.remove((i.stageId, i.attemptNumber())).getOrElse(new Agg)
    stages += Map(
      "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "t0" -> i.submissionTime.getOrElse(0L),
      "t1" -> i.completionTime.getOrElse(0L),
      "tasks" -> a.tasks, "failed_tasks" -> a.failed,
      "first_launch" -> (if (a.tasks > 0) a.firstLaunch else 0L),
      "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
      "result_bytes" -> a.resultBytes,
      "in_bytes" -> a.inBytes, "in_rows" -> a.inRows,
      "out_bytes" -> a.outBytes, "out_rows" -> a.outRows,
      "shuffle_write" -> a.shWrite, "shuffle_read" -> a.shRead,
      "fetch_wait_ms" -> a.fetchWaitMs, "spill" -> a.spill)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockTotal += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      blockSamples += ((System.currentTimeMillis(), blockTotal))
    }
  }

  /** Streaming progress arrives on its own bus queue; the harness waits
    * until every started stream has reported its termination, which the
    * bus posts after that stream's last progress event. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized { streamsStarted += 1 }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Trace.this.synchronized { streamsEnded += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val row = Map(
        "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "trigger_ms" -> dur("triggerExecution"),
        "commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      Trace.this.synchronized { progress += row }
    }
  }

  def streamsSettled: Boolean = synchronized { streamsStarted == streamsEnded }

  def snapshot(): Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList,
      "cache_samples" -> blockSamples.map { case (t, b) => List(t, b) }.toList,
      "stream_progress" -> progress.toList)
  }
}

object Trace {
  /** Local property that ties a job to the harness span it ran under. */
  val TagKey = "graftbench.span"

  private final class Agg {
    var tasks = 0; var failed = 0
    var firstLaunch = Long.MaxValue
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var resultBytes = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L; var outRows = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
  }
}

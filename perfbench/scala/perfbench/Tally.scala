package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Totals of Spark's public listener data (jobs, stages, task metrics).
  * Read it with [[snapshot]] after draining the bus; differences between
  * two snapshots attribute the work to whatever ran in between. */
final class Tally extends SparkListener {
  import Tally.Counts

  private var c = Counts()
  private val skews = ArrayBuffer.empty[Double]
  private val stageRun = scala.collection.mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
    stageRun.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { runs =>
      if (runs.size > 1 && runs.sum > 0)
        skews += runs.max.toDouble / (runs.sum.toDouble / runs.size)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val failed = if (info != null && !info.successful) 1L else 0L
    if (m == null) { c = c.copy(tasks = c.tasks + 1, failedTasks = c.failedTasks + failed); return }
    val dur = if (info != null) info.duration else 0L
    val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
    val sr = m.shuffleReadMetrics
    val sw = m.shuffleWriteMetrics
    val out = m.outputMetrics
    if (sr.totalBytesRead > 0)
      stageRun.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += m.executorRunTime
    c = Counts(
      jobs = c.jobs, stages = c.stages,
      tasks = c.tasks + 1,
      failedTasks = c.failedTasks + failed,
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      schedMs = c.schedMs + math.max(0L, dur - overhead),
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      inputRecords = c.inputRecords + m.inputMetrics.recordsRead,
      shuffleReadBytes = c.shuffleReadBytes + sr.totalBytesRead,
      fetchWaitMs = c.fetchWaitMs + sr.fetchWaitTime,
      shuffleWriteBytes = c.shuffleWriteBytes + sw.bytesWritten,
      shuffleWriteNs = c.shuffleWriteNs + sw.writeTime,
      spillBytes = c.spillBytes + m.diskBytesSpilled + m.memoryBytesSpilled,
      outputBytes = c.outputBytes + out.bytesWritten,
      outputFiles = c.outputFiles + (if (out.bytesWritten > 0) 1 else 0))
  }

  def snapshot(): Counts = synchronized(c)

  /** Max/mean task run time of each completed shuffle-reading stage. */
  def stageSkews(): Seq[Double] = synchronized(skews.toList)
}

object Tally {
  final case class Counts(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
      runMs: Long = 0, cpuNs: Long = 0, schedMs: Long = 0,
      inputBytes: Long = 0, inputRecords: Long = 0,
      shuffleReadBytes: Long = 0, fetchWaitMs: Long = 0,
      shuffleWriteBytes: Long = 0, shuffleWriteNs: Long = 0, spillBytes: Long = 0,
      outputBytes: Long = 0, outputFiles: Long = 0) {
    def -(o: Counts): Counts = Counts(
      jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
      runMs - o.runMs, cpuNs - o.cpuNs, schedMs - o.schedMs,
      inputBytes - o.inputBytes, inputRecords - o.inputRecords,
      shuffleReadBytes - o.shuffleReadBytes, fetchWaitMs - o.fetchWaitMs,
      shuffleWriteBytes - o.shuffleWriteBytes, shuffleWriteNs - o.shuffleWriteNs,
      spillBytes - o.spillBytes, outputBytes - o.outputBytes, outputFiles - o.outputFiles)

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
      "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs, "sched_delay_ms" -> schedMs,
      "input_bytes" -> inputBytes, "input_records" -> inputRecords,
      "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
      "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_write_ns" -> shuffleWriteNs,
      "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes, "output_files" -> outputFiles)
  }
}

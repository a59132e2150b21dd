package org.apache.spark.graftbridge

import org.apache.spark.TaskContext

/** `OutputMetrics`' setters are `private[spark]`; a task that writes its
  * output without a Spark writer (the upsert sink's bucket files,
  * [[graft.streaming.Streams.foreachBatchUpsert]]) records what it wrote
  * here, so listeners see it in the task-end metrics like any other write.
  * Same minimal-shim policy as [[ListenerBridge]]: one method, no other
  * internals touched. */
object OutputMetricsBridge {
  /** Adds `bytes` and `records` to the running task's output metrics; a
    * no-op outside a task. */
  def record(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { ctx =>
      val m = ctx.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }
}

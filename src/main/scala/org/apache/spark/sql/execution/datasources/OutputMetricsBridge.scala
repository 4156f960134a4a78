package org.apache.spark.sql.execution.datasources

import org.apache.spark.TaskContext

/**
 * `OutputMetrics`' setters are `private[spark]`: a task that writes files
 * without Spark's file-format writer (graft.operators.GenerationWriter)
 * records its rows and bytes here, as `BasicWriteTaskStatsTracker` does
 * for Spark's own writes, so listeners see the same output metrics.
 * Lives under `org.apache.spark` for access; contains no logic.
 */
object OutputMetricsBridge {
  def set(tc: TaskContext, records: Long, bytes: Long): Unit = {
    val m = tc.taskMetrics().outputMetrics
    m.setRecordsWritten(records)
    m.setBytesWritten(bytes)
  }
}

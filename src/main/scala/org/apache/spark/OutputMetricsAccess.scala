package org.apache.spark

/** Forwarder to the task output-metric setters Spark keeps
  * `private[spark]`. `graft.flatten.Flattener`'s TSV tasks write their
  * part files themselves, not through a Hadoop `OutputFormat`, and
  * report what each wrote where Spark's own writers report it.
  */
object OutputMetricsAccess {
  def set(ctx: TaskContext, bytes: Long, records: Long): Unit = {
    val m = ctx.taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }
}

package org.apache.spark

import org.apache.spark.deploy.SparkHadoopUtil

/** Charges what a task reads from files outside a Spark file scan to its
  * `inputMetrics`, as Spark's own file scans do: the bytes the Hadoop
  * `FileSystem` statistics count on the task's thread while `f` runs.
  * `InputMetrics.incBytesRead` is `private[spark]`, hence this package.
  * Off a task (no `TaskContext`) it only runs `f`. */
object TaskInputBytes {
  def charged[A](f: => A): A = {
    val ctx = TaskContext.get()
    if (ctx == null) f
    else {
      val bytesRead = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
      try f finally ctx.taskMetrics().inputMetrics.incBytesRead(bytesRead())
    }
  }
}

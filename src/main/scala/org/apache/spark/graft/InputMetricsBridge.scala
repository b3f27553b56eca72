package org.apache.spark.graft

import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil

/** `InputMetrics`' record and byte incrementers, and the filesystem
  * byte callback Spark's own file readers use, are private[spark]. This
  * bridge (compiled into the spark namespace, the technique
  * `sql.graft.Bridge` uses for sql) lets a reader outside it fill a
  * task's input metrics the way `HadoopRDD` does.
  */
object InputMetricsBridge {

  /** Counts one record per `record()` call, and the bytes this thread
    * has read through Hadoop filesystems since the counter was made,
    * published every `UPDATE_INPUT_METRICS_INTERVAL_RECORDS` records and
    * on `flush()`. Make it on the thread that reads.
    */
  final class Counter(ctx: TaskContext) {
    private val metrics = ctx.taskMetrics().inputMetrics
    private val bytesBefore = metrics.bytesRead
    private val bytesSince = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()

    def record(): Unit = {
      metrics.incRecordsRead(1)
      if (metrics.recordsRead % SparkHadoopUtil.UPDATE_INPUT_METRICS_INTERVAL_RECORDS == 0) flush()
    }

    def flush(): Unit = metrics.setBytesRead(bytesBefore + bytesSince())
  }
}

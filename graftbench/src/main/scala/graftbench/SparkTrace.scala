package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Task-metric totals collected by a SparkListener while the traced loop
  * runs. Listener events arrive on Spark's bus thread; the fields are only
  * read after `drain`, which waits for the bus to empty. */
final class SparkTrace extends SparkListener {
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var shuffleWriteNs = 0L
  @volatile var fetchWaitMs = 0L
  @volatile var schedDelayMs = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      tasks += 1
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      // Spark UI's scheduler delay: wall time not spent deserializing,
      // running, serializing the result or fetching it
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
    }
  }
}

object SparkTrace {
  /** Wait until every posted listener event has been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

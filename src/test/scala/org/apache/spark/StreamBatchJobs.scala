package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs one micro-batch of a streaming query starts, told
  * apart by the local properties the stream sets on every job it runs
  * (`sql.streaming.queryId`, `streaming.sql.batchId`). Read [[count]] only
  * after [[stop]], which waits until the listener bus has delivered every
  * event. The bus is Spark-internal, hence this package. */
final class StreamBatchJobs(sc: SparkContext, queryId: String, batchId: Long) {
  private val jobs = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(p =>
          p.getProperty("sql.streaming.queryId") == queryId &&
            p.getProperty("streaming.sql.batchId") == batchId.toString))
        jobs.incrementAndGet()
  }
  sc.addSparkListener(listener)

  def stop(): Unit = {
    sc.listenerBus.waitUntilEmpty()
    sc.removeSparkListener(listener)
  }

  def count: Int = jobs.get
}

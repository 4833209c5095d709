package org.apache.spark

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** The Spark jobs started on behalf of the calling thread while `body`
  * runs — matched by a fresh job group, which Spark hands on to the
  * broadcast and AQE stage threads — once the listener bus has delivered
  * every event: their number, and their stages, each with the number of
  * tasks that ran for it and their summed executor run time, input records
  * read and output bytes written. Stages a job skipped (their shuffle
  * output was reused) ran no task and are absent.
  * The bus is Spark-internal, hence this package. */
object StageTasks {
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
      recordsRead: Long, bytesWritten: Long)

  private final case class Totals(tasks: Int, runMs: Long, recordsRead: Long,
      bytesWritten: Long) {
    def +(o: Totals): Totals = Totals(tasks + o.tasks, runMs + o.runMs,
      recordsRead + o.recordsRead, bytesWritten + o.bytesWritten)
  }

  def apply[T](sc: SparkContext)(body: => T): (T, Int, Seq[Stage]) = {
    val group = s"stage-tasks-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val names = new ConcurrentHashMap[Int, String]()
    val tasks = new ConcurrentHashMap[Int, Totals]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)) {
          jobs.incrementAndGet()
          e.stageInfos.foreach(s => names.put(s.stageId, s.name))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val t = Option(e.taskMetrics).fold(Totals(1, 0L, 0L, 0L))(m =>
          Totals(1, m.executorRunTime, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten))
        tasks.merge(e.stageId, t, _ + _)
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "stage tasks")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      val stages = names.asScala.toSeq.flatMap { case (id, name) =>
        Option(tasks.get(id)).map(t =>
          Stage(id, name, t.tasks, t.runMs, t.recordsRead, t.bytesWritten))
      }.sortBy(_.id)
      (out, jobs.get, stages)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

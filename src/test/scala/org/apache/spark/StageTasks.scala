package org.apache.spark

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** The Spark jobs started on behalf of the calling thread while `body`
  * runs — matched by a fresh job group, which Spark hands on to the
  * broadcast and AQE stage threads — once the listener bus has delivered
  * every event: their number, and their stages, each with the number of
  * tasks that ran for it and their summed executor run time. Stages a job
  * skipped (their shuffle output was reused) ran no task and are absent.
  * The bus is Spark-internal, hence this package. */
object StageTasks {
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long)

  def apply[T](sc: SparkContext)(body: => T): (T, Int, Seq[Stage]) = {
    val group = s"stage-tasks-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val names = new ConcurrentHashMap[Int, String]()
    val tasks = new ConcurrentHashMap[Int, (Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)) {
          jobs.incrementAndGet()
          e.stageInfos.foreach(s => names.put(s.stageId, s.name))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val ms = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
        tasks.merge(e.stageId, (1, ms),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "stage tasks")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      val stages = names.asScala.toSeq.flatMap { case (id, name) =>
        Option(tasks.get(id)).map { case (n, ms) => Stage(id, name, n, ms) }
      }.sortBy(_.id)
      (out, jobs.get, stages)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

package org.apache.spark

/** Counts the Spark jobs started on behalf of the calling thread while
  * `body` runs — matched by a fresh job group, which Spark hands on to the
  * broadcast and AQE stage threads — once the listener bus has delivered
  * every event (see [[StageTasks]], which also reports each job's stages). */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, jobs, _) = StageTasks(sc)(body)
    (out, jobs)
  }
}

package graft.operators

import org.apache.spark.StageTasks

import graft.SparkTestBase

/** Construction-cost pins for the event operators: the Spark jobs a
  * declared query runs while its DataFrame is built, and how many tasks
  * its heaviest stages use. */
class EventOpsSpec extends SparkTestBase {

  private val sf01 = "/root/testdata/sf0.01"

  test("theilSen builds its points table once and pairs on every core") {
    val sc = spark.sparkContext
    EventOps.theilSen(spark, sf01) // compile the plans outside the count
    val (_, jobs, stages) = StageTasks(sc)(EventOps.theilSen(spark, sf01))
    // sf0.01: the points checkpoint (rollup, fan-out) is 4 jobs and the
    // slope median 7; the intercept median is planned into the query
    assert(jobs <= 11, s"q_theil_sen construction: $jobs jobs")
    // the two heaviest stages generate the pair set: the slope median's
    // sketch pass and its histogram pass
    val cores = math.min(4, sc.defaultParallelism)
    val pairStages = stages.sortBy(-_.runMs).take(2)
    assert(pairStages.forall(_.tasks >= cores),
      s"pair stages $pairStages, all stages $stages")
  }
}

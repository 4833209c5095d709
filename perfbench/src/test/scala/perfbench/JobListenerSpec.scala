package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class JobListenerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("perfbench-test")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Runs `body` with a tracer whose listener is registered, then returns
    * the spans it recorded. */
  private def traced(body: Tracer => Unit): Seq[Span] = {
    val sc = spark.sparkContext
    val tracer = new Tracer(true, sc.setLocalProperty)
    val listener = new JobListener(tracer)
    sc.addSparkListener(listener)
    try {
      body(tracer)
      org.apache.spark.ListenerBusDrain(sc)
      tracer.spans
    } finally sc.removeSparkListener(listener)
  }

  test("a job hangs under the span active when it started") {
    var (outer, inner) = (0L, 0L)
    val jobs = traced { tracer =>
      tracer.span("outer") { o =>
        outer = o.id
        spark.sparkContext.parallelize(1 to 10, 2).count()
        tracer.span("inner") { i =>
          inner = i.id
          spark.sparkContext.parallelize(1 to 10, 2).count()
        }
        spark.sparkContext.parallelize(1 to 10, 2).count()
      }
    }.filter(_.name == "spark.job")
    assert(jobs.map(_.parent).sorted == Seq(outer, outer, inner).sorted)
    // the two outer jobs bracket the inner one in time
    val byParent = jobs.groupBy(_.parent)
    assert(byParent(outer).map(_.start).min <= byParent(inner).head.start)
    assert(byParent(outer).map(_.start).max >= byParent(inner).head.end)
    assert(jobs.forall(j => j.attrs("stages") == 1 && j.attrs("tasks") == 2))
  }

  test("jobs from a thread started inside a span belong to that span; " +
      "jobs outside every span are dropped") {
    var worker = 0L
    val jobs = traced { tracer =>
      spark.sparkContext.parallelize(1 to 5, 2).count()
      tracer.span("worker") { w =>
        worker = w.id
        val t = new Thread(() => { spark.sparkContext.parallelize(1 to 5, 2).count(); () })
        t.start()
        t.join()
      }
      spark.sparkContext.parallelize(1 to 5, 2).count()
    }.filter(_.name == "spark.job")
    assert(jobs.map(_.parent) == Seq(worker))
    assert(spark.sparkContext.getLocalProperty(Tracer.SpanProperty) == null)
    assert(spark.sparkContext.getLocalProperty(Tracer.JobGroup) == null)
  }
}
